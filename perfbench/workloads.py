"""The two workloads: corpus set-up through the incremental ingest,
MCP serving to closed-loop agents, re-ingest beside serving, the
correctness gates and the metric summaries.

Both workloads prepare their corpus the same way: the seeded pages go
through ``streaming_ingest_incremental`` as micro-batch 0, committing a
snapshot table that the MCP server then serves.  They differ in what
runs during the measured window:

- ``mcp_agent``: 4 agents (at most nproc) whose queries repeat about
  half the time; nothing is written.
- ``reingest_while_serving``: 2 agents whose queries never repeat,
  while the main thread commits re-crawl micro-batches and the server
  switches to each new snapshot as soon as it is committed.

A traced run of either workload ends with the curation pass
(``curation.py``) after the window.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

import curation
import gen
import oracle
import stats
from spans import Tracer, owned, self_ms, span_of_job, union_ms

HERE = os.path.dirname(os.path.abspath(__file__))

N_PAGES = 200
RECRAWL_SIZE = 40
#: queries generated per client; a run uses only what its window allows
PER_CLIENT = 400
CLIENTS = {"mcp_agent": 4, "reingest_while_serving": 2}
REPEATS = {"mcp_agent": True, "reingest_while_serving": False}
CHUNK_COLS = "url, chunk_index, content, type, language, title, source_name, embedding"
STREAM_TIMEOUT_S = 120
LOADGEN_GRACE_S = 150

_DOCS_SCHEMA = pa.schema([
    ("source_id", pa.string()), ("url", pa.string()), ("title", pa.string()),
    ("path", pa.string()), ("content", pa.string()),
    ("links", pa.list_(pa.string())), ("depth", pa.int32()),
    ("status", pa.string()), ("error", pa.string()),
    ("metadata", pa.struct([
        ("author", pa.string()), ("created_at", pa.string()),
        ("pages", pa.int32()), ("language", pa.string()),
    ])),
])


# -- session -----------------------------------------------------------------


def start_session(work: str):
    from qurio_spark.session import get_spark

    spark = get_spark(
        app_name="qurio-perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the traced run reads every job back from the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait until it and every
    process it started (the Python workers) have exited."""
    from pyspark import SparkContext

    started = _descendants()
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while started and time.time() < deadline:
        started = {p for p in started if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in started:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# -- ingest ------------------------------------------------------------------


class Table:
    """One snapshot-table pair (chunks + page-hash ledger) fed by the
    incremental streaming ingest from a directory of batch files."""

    def __init__(self, spark, base: str):
        self.spark = spark
        self.inbox = os.path.join(base, "in")
        self.chunks = os.path.join(base, "chunks")
        self.ledger = os.path.join(base, "ledger")
        self.ckpt = os.path.join(base, "ckpt")
        os.makedirs(self.inbox, exist_ok=True)
        self.n_batches = 0

    def ingest(self, pages: list[dict]) -> float:
        """Hand ``pages`` in as the next micro-batch and wait until it
        is committed; -> seconds from hand-in to commit."""
        from qurio_spark.schemas import DOCUMENTS_RAW
        from qurio_spark.streaming.ingest import streaming_ingest_incremental

        path = os.path.join(self.inbox, f"b{self.n_batches:05d}.parquet")
        pq.write_table(pa.Table.from_pylist(pages, _DOCS_SCHEMA), path)
        self.n_batches += 1
        t0 = time.perf_counter()
        stream = self.spark.readStream.schema(DOCUMENTS_RAW).parquet(self.inbox)
        q = streaming_ingest_incremental(
            stream, self.chunks, self.ledger, self.ckpt
        ).start()
        if not q.awaitTermination(STREAM_TIMEOUT_S):
            q.stop()
            raise RuntimeError("micro-batch did not finish in time")
        if q.exception() is not None:
            raise RuntimeError(f"micro-batch failed: {q.exception()}")
        return time.perf_counter() - t0

    def version(self) -> int:
        from qurio_spark.plans.snapshots import snap_versions

        return snap_versions(self.chunks)[-1]["version"]

    def files(self, path: str, version: int | None = None) -> list[str]:
        from qurio_spark.plans.snapshots import snap_scan_files

        return [os.path.join(path, f) for f in snap_scan_files(path, {}, version=version)]

    def engine(self, version: int):
        from qurio_spark.api import Engine
        from qurio_spark.plans.snapshots import snap_read

        return Engine(chunks=snap_read(self.spark, self.chunks, version))


def _tool_call(rid: str, tool: str, args: dict) -> dict:
    return {"jsonrpc": "2.0", "id": rid, "method": "tools/call",
            "params": {"name": tool, "arguments": args}}


def _top_url(resp: dict | None) -> str | None:
    text = (resp or {}).get("result", {}).get("content", [{}])[0].get("text", "")
    for line in text.splitlines():
        if line.startswith("URL: "):
            return line[5:]
    return None


def planted_url(pages: list[dict], token: str) -> str:
    return next(p["url"] for p in pages if token in p["content"])


# -- server --------------------------------------------------------------------


class Front:
    """What the HTTP server calls: binds each request to the snapshot
    version current when it arrives.  In a traced run it traces the
    requests of every second agent and leaves the others untraced, so
    both kinds share the window and their latency difference is the
    tracing overhead."""

    def __init__(self, tracer: Tracer, traced: bool):
        self.tracer, self.traced = tracer, traced
        self.current: tuple[int, object] | None = None
        self.served: dict[str, int] = {}

    def process_request(self, req: dict):
        version, engine = self.current
        rid = req.get("id")
        self.served[rid] = version
        if not self.traced:
            return engine.process_request(req)
        self.tracer.begin_request(rid, is_traced_turn(rid))
        try:
            return engine.process_request(req)
        finally:
            self.tracer.end_request()


def is_traced_turn(rid: str) -> bool:
    """Agent request ids are ``c<client>-<turn>-<s|r>``; odd
    clients are traced.  Every client's queries have the same mix of
    fresh and repeated ones, so both groups do the same work."""
    parts = str(rid).split("-")
    return len(parts) == 3 and parts[0][1:].isdigit() and int(parts[0][1:]) % 2 == 1


# -- tracing -----------------------------------------------------------------


def install_spans(tracer: Tracer) -> None:
    """Wrap each layer's public entry points from outside."""
    import qurio_spark.api as api
    import qurio_spark.operators.bm25 as bm25
    import qurio_spark.plans.pipeline as pipeline
    import qurio_spark.plans.snapshots as snapshots
    import qurio_spark.streaming.ingest as streaming
    from qurio_spark.functions.embedder import HashingEmbedder

    tracer.wrap(api.Engine, "process_request", "api.process_request")
    tracer.wrap(api.Engine, "search", "api.search")
    tracer.wrap(api.Engine, "tool_search_text", "api.format")
    tracer.wrap(HashingEmbedder, "embed_query", "embedder.embed_query")
    tracer.wrap(api, "hybrid_search", "hybrid.hybrid_search")
    tracer.wrap(bm25, "build_index", "bm25.build_index")
    tracer.wrap(bm25, "score_query", "bm25.score_query")
    tracer.wrap(api, "apply_rerank", "rerank.apply_rerank")
    tracer.wrap(api, "read_page", "pages.read_page")
    tracer.wrap(pipeline, "split_unchanged", "streaming.split_unchanged")
    tracer.wrap(snapshots, "snap_replace_values", "snapshots.snap_replace_values")
    tracer.wrap(snapshots, "snap_overwrite", "snapshots.snap_overwrite")

    # build_chunks: a span plus the count of pages that reach it (the
    # pages the ledger did not skip), counted on the already
    # checkpointed input inside a bench span so its job is not
    # charged to any layer
    orig = streaming.build_chunks

    def build_chunks(docs, *a, **k):
        if not tracer.active():
            return orig(docs, *a, **k)
        with tracer.span("bench.count_changed") as rec:
            rec["rows"] = docs.count()
        with tracer.span("pipeline.build_chunks"):
            return orig(docs, *a, **k)

    tracer.replace(streaming, "build_chunks", build_chunks)


# -- the run -------------------------------------------------------------------


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 work: str, nproc: int):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.traced, self.work, self.nproc = traced, work, nproc
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.batches: list[dict] = []  # ingest micro-batches, set-up included

    def op(self, problems: list[str], what: str) -> None:
        """Count one operation; it failed when it has problems."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{what}: {p}" for p in problems[:3])

    # -- set-up ------------------------------------------------------------

    def prepare(self) -> dict:
        """Set-up: generate the corpus, ingest it as micro-batch 0 of a
        fresh table, then two concurrent agent turns in process — one
        searches the batch's planted token (the searchable check), the
        other runs a filtered query — so code generation for both query
        shapes finishes before the window."""
        t0 = time.perf_counter()
        pages = gen.corpus(self.seed, N_PAGES)
        table = Table(self.spark, os.path.join(self.work, "table"))
        t_hand = time.perf_counter()
        b = self._ingest(table, pages, "setup")
        version = table.version()
        engine = table.engine(version)

        n = min(2, self.n_clients())
        qs = [{"query": gen.planted_token(self.seed, 0)},
              dict(gen.query_stream(self.seed, 1, 1, False, "warmup")[0][0],
                   source_id="src0")][:n]
        urls: dict[int, str | None] = {}

        def turn(c: int) -> None:
            resp = engine.process_request(_tool_call(f"warmup-{c}-s", "qurio_search", qs[c]))
            urls[c] = _top_url(resp)
            if c == 0:
                b["searchable_s"] = time.perf_counter() - t_hand
            if urls[c]:
                engine.process_request(
                    _tool_call(f"warmup-{c}-r", "qurio_read_page", {"url": urls[c]}))

        threads = [threading.Thread(target=turn, args=(c,)) for c in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        want = planted_url(pages, qs[0]["query"])
        self.op([] if urls.get(0) == want else [f"top hit {urls.get(0)}, expected {want}"],
                "searchable setup")
        for c in range(1, n):
            self.op([] if urls.get(c) else ["no search result"], f"warm-up {c}")
        return {"pages": pages, "table": table, "version": version,
                "engine": engine, "s": time.perf_counter() - t0}

    def _ingest(self, table: Table, pages: list[dict], name: str) -> dict:
        t_start = time.time() * 1000.0
        traced = self.tracer.enabled
        try:
            secs = table.ingest(pages)
            self.op([], name)
        except RuntimeError as e:
            self.op([str(e)], name)
            raise
        rec = {"name": name, "pages": len(pages), "ingest_s": secs,
               "start_ms": t_start, "end_ms": time.time() * 1000.0,
               "traced": traced}
        rec.update(self._written(table))
        self.batches.append(rec)
        return rec

    def _written(self, table: Table) -> dict:
        """Files and bytes the last commit added to both tables."""
        from qurio_spark.plans.snapshots import snap_versions

        n_files = n_bytes = 0
        for path in (table.chunks, table.ledger):
            vs = [v["version"] for v in snap_versions(path)]
            new = set(table.files(path, vs[-1]))
            if len(vs) > 1:
                new -= set(table.files(path, vs[-2]))
            n_files += len(new)
            n_bytes += sum(os.path.getsize(f) for f in new)
        return {"files_written": n_files, "bytes_written": n_bytes}

    # -- main ----------------------------------------------------------------

    def run(self) -> dict:
        t0 = time.perf_counter()
        self.spark = start_session(self.work)
        session_s = time.perf_counter() - t0
        self.tracer = Tracer(self.spark.sparkContext)
        self.t_session_ms = time.time() * 1000.0
        if self.traced:
            install_spans(self.tracer)
            self.tracer.enabled = True
        try:
            prep = self.prepare()
            out = self.measure(prep)
            out["setup_s"] = session_s + prep["s"]
            out["session_s"] = session_s
            if self.traced:
                out["curation"] = self.curation_pass(prep["pages"])
                out["layers"] = self.layers(out, prep)
            return out
        finally:
            self.tracer.enabled = False
            self.tracer.unwrap_all()
            stop_session(self.spark)

    def measure(self, prep: dict) -> dict:
        from qurio_spark.api_http import McpHttpServer

        store = oracle.ChunkStore()
        table: Table = prep["table"]
        front = Front(self.tracer, self.traced)
        front.current = (prep["version"], prep["engine"])
        store.load(prep["version"], table.files(table.chunks, prep["version"]))
        from qurio_spark.operators.chunker import chunk_markdown

        self.op(oracle.check_chunks(store.rows(prep["version"], CHUNK_COLS),
                                    prep["pages"], chunk_markdown), "initial chunks")

        plan_q = gen.query_stream(self.seed, self.n_clients(), PER_CLIENT,
                                  REPEATS[self.workload])
        server = McpHttpServer(front).start()
        plan_path = os.path.join(self.work, "plan.json")
        recs_path = os.path.join(self.work, "requests.jsonl")
        stop_file = os.path.join(self.work, "stop")
        reingest = self.workload == "reingest_while_serving"
        with open(plan_path, "w") as f:
            # re-ingest: load runs until the last micro-batch is verified
            json.dump({"url": server.url, "stop_file": stop_file,
                       "seconds": self.seconds + (LOADGEN_GRACE_S if reingest else 0),
                       "clients": plan_q}, f)
        pages = prep["pages"]
        t_start = time.time()
        lg = subprocess.Popen([sys.executable, os.path.join(HERE, "loadgen.py"),
                               plan_path, recs_path])
        try:
            if reingest:
                pages = self.reingest(table, pages, front, t_start + self.seconds,
                                      stop_file)
            lg.wait(timeout=self.seconds + LOADGEN_GRACE_S)
        finally:
            if lg.poll() is None:
                lg.kill()
                lg.wait()
            server.close()
        self.tracer.enabled = False
        t_end = time.time()
        with open(recs_path) as f:
            recs = [json.loads(line) for line in f]
        self.check_requests(recs, front, store, table)
        for tool in ("qurio_search", "qurio_read_page"):
            done = any(r["ok"] and r["counted"] and r["tool"] == tool for r in recs)
            self.op([] if done else [f"no {tool} completed"], f"{tool} load")
        t_checked = time.time()
        if reingest:
            self.check_final(store, table, pages)
        out = self.summarise(recs, t_start, plan_q, front, store, table, pages)
        out["phases_s"] = {"window": t_end - t_start, "checks": t_checked - t_end,
                           "final_gate": time.time() - t_checked}
        return out

    def curation_pass(self, pages: list[dict]) -> dict:
        """The dedup/curate layers, traced only: the curation queries
        over documents built from the served corpus, after the window
        so no end-to-end figure includes them."""
        d = os.path.join(self.work, "curation")
        props = curation.write_inputs(self.seed, pages, d)
        t0 = time.perf_counter()
        props["result_rows"] = curation.run(self.spark, self.tracer, d, props, self.op)
        props["s"] = time.perf_counter() - t0
        return props

    def n_clients(self) -> int:
        return max(1, min(CLIENTS[self.workload], self.nproc))

    def reingest(self, table: Table, pages: list[dict], front: Front,
                 deadline: float, stop_file: str) -> list[dict]:
        """Commit re-crawl micro-batches back to back until the deadline.
        After each commit the server switches to the new snapshot, and a
        background search on that snapshot times hand-in to the first
        verified hit on the batch's planted token while the next batch
        is already ingesting."""
        k, checks, found = 1, [], {}

        def verify(k: int, engine, token: str, t_hand: float, b: dict) -> None:
            found[k] = _top_url(engine.process_request(
                _tool_call(f"plant-{k}", "qurio_search", {"query": token})))
            b["searchable_s"] = time.perf_counter() - t_hand

        while time.time() < deadline:
            batch = gen.recrawl(self.seed, pages, k, RECRAWL_SIZE)
            t_hand = time.perf_counter()
            b = self._ingest(table, batch, f"batch-{k}")
            version = table.version()
            engine = table.engine(version)
            front.current = (version, engine)
            token = gen.planted_token(self.seed, k)
            th = threading.Thread(target=verify, args=(k, engine, token, t_hand, b))
            th.start()
            checks.append((k, th, planted_url(batch, token)))
            b["mix"] = _mix(pages, batch)
            pages = gen.apply_recrawl(pages, batch)
            k += 1
        # the counted load ends with the last commit, so every counted
        # request overlaps an ingest
        open(stop_file, "w").close()
        for k, th, want in checks:
            th.join()
            got = found.get(k)
            self.op([] if got == want else [f"top hit {got}, expected {want}"],
                    f"searchable batch {k}")
        return pages

    # -- gates ---------------------------------------------------------------

    def check_requests(self, recs, front: Front, store, table: Table) -> None:
        expected: dict[tuple, list[dict]] = {}
        for r in recs:
            if not r["ok"]:
                self.op([f"request failed: {r.get('error')}"], r["id"])
                continue
            version = front.served.get(r["id"])
            if version is None:
                self.op(["server never saw the request"], r["id"])
                continue
            store.load(version, table.files(table.chunks, version))
            a = r["args"]
            if r["tool"] == "qurio_search":
                key = (version, a["query"], a["alpha"], a.get("source_id"))
                if key not in expected:
                    expected[key] = store.hybrid_topk(
                        version, a["query"], a["alpha"], a.get("source_id"),
                        oracle.DEFAULT_LIMIT + 10)
                self.op(oracle.check_search(r["text"], expected[key],
                                            oracle.DEFAULT_LIMIT), r["id"])
            else:
                want = store.page_text(version, a["url"])
                self.op([] if r["text"] == want else ["page text differs"], r["id"])

    def check_final(self, store, table: Table, pages: list[dict]) -> None:
        """The final snapshot must hold exactly the chunks of the final
        page set, each with its recomputed embedding."""
        from qurio_spark.operators.chunker import chunk_markdown

        version = table.version()
        store.load(version, table.files(table.chunks, version))
        self.op(oracle.check_chunks(store.rows(version, CHUNK_COLS), pages, chunk_markdown),
                "final snapshot")

    # -- summaries -------------------------------------------------------------

    def summarise(self, recs, t_start, plan_q, front, store, table, pages) -> dict:
        recs = [r for r in recs if r["counted"]]
        ok = [r for r in recs if r["ok"]]
        s_ms = [r["ms"] for r in ok if r["tool"] == "qurio_search"]
        r_ms = [r["ms"] for r in ok if r["tool"] == "qurio_read_page"]
        window = (max(r["t1"] for r in recs) - t_start) if recs else self.seconds
        # closed-loop throughput: each client's searches over its own
        # busy span, summed (idle tails after the last turn excluded)
        rps = 0.0
        for c in range(len(plan_q)):
            mine = [r for r in recs if r["id"].startswith(f"c{c}-")]
            n = sum(1 for r in mine if r["ok"] and r["tool"] == "qurio_search")
            if n:
                rps += n / (max(r["t1"] for r in mine) - min(r["t0"] for r in mine))
        tail, tail_pct = stats.tail(s_ms)
        measured = [b for b in self.batches if b["name"].startswith("batch-")]
        ingest = measured or [b for b in self.batches if b["name"] == "setup"]
        sent = [r["args"] for r in recs if r["tool"] == "qurio_search"]
        out = {
            "search_p50_ms": stats.median(s_ms),
            "search_tail_ms": tail,
            "search_tail_pct": tail_pct,
            "search_n": len(s_ms),
            "search_rps": rps,
            "read_page_p50_ms": stats.median(r_ms),
            "read_page_n": len(r_ms),
            "searchable_s": stats.median([b["searchable_s"] for b in ingest]),
            "ingest_docs_per_s": (sum(b["pages"] for b in ingest)
                                  / sum(b["ingest_s"] for b in ingest)),
            "load_window_s": window,
            "clients": len(plan_q),
            "query_repeat_share": gen.repeat_share(sent),
            "query_source_filter_share": (
                sum(1 for q in sent if q.get("source_id")) / len(sent) if sent else 0.0),
            "batches": self.batches,
            "n_reingest_batches": len(measured),
            "recrawl_mix": _mean_mix([b["mix"] for b in measured]) if measured else None,
            "corpus": _corpus_props(pages, store, front.current[0], table),
        }
        out["requests"] = [[r["id"], round(r["t0"] - t_start, 3), round(r["ms"], 1), r["ok"]]
                           for r in recs]
        out["_recs"] = recs
        return out

    def layers(self, out: dict, prep: dict) -> dict:
        """Per-layer metrics from the spans and jobs of the traced run."""
        from qurio_spark.functions.embedder import embed_text_py
        from qurio_spark.operators.chunker import chunk_markdown

        spans = self.tracer.spans
        jobs = self.tracer.harvest_jobs(self.t_session_ms)
        by_id = {s["id"]: s for s in spans}
        selft = self_ms(spans)
        jobs_of: dict[int, list[dict]] = {}
        for j in jobs:
            sid = span_of_job(j)
            if sid is not None:
                jobs_of.setdefault(sid, []).append(j)

        recs = {r["id"]: r for r in out["_recs"]}
        by_rid: dict[str, list[dict]] = {}
        for s in spans:
            if s["rid"] is not None:
                by_rid.setdefault(s["rid"], []).append(s)

        def per_request(tool: str):
            for rid, ss in by_rid.items():
                root = next((s for s in ss if s["name"] == "api.process_request"
                             and s["parent"] is None), None)
                r = recs.get(rid)
                if root and r and r["ok"] and r["tool"] == tool:
                    yield r, root, ss, [j for s in ss for j in jobs_of.get(s["id"], [])]

        def dur(ss, name):
            return sum(s["end"] - s["start"] for s in ss if s["name"] == name)

        acc: dict[str, list[float]] = {}

        def add(k, v):
            acc.setdefault(k, []).append(float(v))

        for r, root, ss, js in per_request("qurio_search"):
            span_ms = root["end"] - root["start"]
            busy = union_ms([(j["start"], j["end"]) for j in js])
            stages = [st for j in js for st in j["stages"]]
            add("api_http.transport_ms", r["ms"] - span_ms)
            add("api.dispatch_self_ms", selft[root["id"]])
            add("api.format_ms", dur(ss, "api.format"))
            add("embedder.embed_query_ms", dur(ss, "embedder.embed_query"))
            add("hybrid.construct_ms", dur(ss, "hybrid.hybrid_search"))
            add("bm25.build_index_calls_per_search",
                sum(1 for s in ss if s["name"] == "bm25.build_index"))
            add("bm25.build_index_ms", dur(ss, "bm25.build_index"))
            add("bm25.score_query_ms", dur(ss, "bm25.score_query"))
            add("rerank.apply_rerank_ms", dur(ss, "rerank.apply_rerank"))
            add("spark.jobs_per_search", len(js))
            add("spark.stages_per_search", len(stages))
            add("spark.tasks_per_search", sum(st["tasks"] for st in stages))
            add("spark.shuffle_bytes_per_search", sum(st["shuffle_write"] for st in stages))
            add("spark.busy_ms_per_search", busy)
            add("spark.driver_ms_per_search", span_ms - busy)
            add("spark.sched_wait_ms_per_search", sum(st["wait_ms"] for st in stages))
        for r, root, ss, js in per_request("qurio_read_page"):
            add("pages.read_page_ms", dur(ss, "pages.read_page"))
            add("spark.jobs_per_read_page", len(js))

        # ingest layers: the measured micro-batches when the workload
        # has them, otherwise the set-up batches
        traced_batches = [b for b in self.batches
                          if b["traced"] and b["name"].startswith("batch-")] or [
                          b for b in self.batches if b["traced"]]
        for b in traced_batches:
            inb = [s for s in spans if b["start_ms"] <= s["start"] <= b["end_ms"]]
            add("pipeline.build_chunks_ms", dur(inb, "pipeline.build_chunks"))
            add("streaming.split_unchanged_ms", dur(inb, "streaming.split_unchanged"))
            add("snapshots.commit_ms", dur(inb, "snapshots.snap_replace_values")
                + dur(inb, "snapshots.snap_overwrite"))
            layer_jobs = [j for s in inb if s["name"].split(".")[0] in
                          ("pipeline", "streaming", "snapshots")
                          for j in jobs_of.get(s["id"], [])]
            add("pipeline.executor_run_ms",
                sum(st["run_ms"] for j in layer_jobs for st in j["stages"]))
            changed = sum(s.get("rows", 0) for s in inb if s["name"] == "bench.count_changed")
            add("streaming.skip_ratio", 1.0 - changed / b["pages"])
            add("spark.unattributed_jobs", sum(
                1 for j in jobs
                if b["start_ms"] <= j["start"] <= b["end_ms"] and not owned(j)))

        # pure-Python layer costs on this run's own inputs
        pages = prep["pages"]
        t0 = time.perf_counter()
        chunks = [(p, c) for p in pages for c in chunk_markdown(p["content"])]
        chunk_us = (time.perf_counter() - t0) * 1e6 / len(pages)
        ctx = [f"Documentation: {p['source_id']}\nTitle: {p['title']}\n"
               f"Section: {p['path']}\n---\n{c.content}" for p, c in chunks]
        t0 = time.perf_counter()
        for c in ctx:
            embed_text_py(c)
        embed_us = (time.perf_counter() - t0) * 1e6 / len(ctx)

        searches = [r for r in out["_recs"] if r["ok"] and r["tool"] == "qurio_search"]
        traced = [r["ms"] for r in searches if is_traced_turn(r["id"])]
        untraced = [r["ms"] for r in searches if not is_traced_turn(r["id"])]
        m = {k: stats.median(v) for k, v in acc.items()}
        for s in spans:
            if s["name"].startswith("dedup."):
                q = s["name"][len("dedup."):]
                js = jobs_of.get(s["id"], [])
                m[f"dedup.{q}_ms"] = s["end"] - s["start"]
                m[f"spark.jobs.{q}"] = len(js)
                m[f"spark.shuffle_bytes.{q}"] = sum(
                    st["shuffle_write"] for j in js for st in j["stages"])
        m.update({
            "pipeline.chunks_per_doc": out["corpus"]["chunks"] / out["corpus"]["pages"],
            "pipeline.stored_bytes_per_input_byte": out["corpus"]["stored_bytes_per_input_byte"],
            "chunker.chunk_markdown_us_per_doc": chunk_us,
            "embedder.embed_text_us_per_chunk": embed_us,
            "snapshots.files_written_per_batch": stats.median(
                [b["files_written"] for b in traced_batches]),
            "snapshots.bytes_written_per_batch": stats.median(
                [b["bytes_written"] for b in traced_batches]),
            "peak_rss_mb": peak_rss_mb(),
            "trace.overhead_ms": stats.median(traced) - stats.median(untraced),
        })
        m["_samples"] = {k: len(v) for k, v in acc.items()}
        m["_spans"] = spans
        m["_jobs"] = jobs
        return m


def _mix(before: list[dict], batch: list[dict]) -> dict:
    old = {p["url"]: p["content"] for p in before}
    same = sum(1 for p in batch if old.get(p["url"]) == p["content"])
    new = sum(1 for p in batch if p["url"] not in old)
    n = len(batch)
    return {"unchanged": same / n, "changed": (n - same - new) / n, "new": new / n}


def _mean_mix(mixes: list[dict]) -> dict:
    return {k: sum(m[k] for m in mixes) / len(mixes) for k in mixes[0]}


def _corpus_props(pages: list[dict], store, version: int, table: Table) -> dict:
    """Sizes of the served corpus in rows and bytes."""
    files = table.files(table.chunks, version)
    store.load(version, files)
    stored = sum(os.path.getsize(f) for f in files)
    in_bytes = sum(len(p["content"].encode()) for p in pages)
    chunks = store.db.execute(f"SELECT count(*) FROM v{version}").fetchone()[0]
    sources = len({p["source_id"] for p in pages})
    return {"pages": len(pages), "sources": sources, "chunks": int(chunks),
            "input_bytes": in_bytes, "stored_bytes": stored,
            "stored_bytes_per_input_byte": stored / in_bytes}


def _descendants() -> set[int]:
    """Pids of every live descendant of this process."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = set(), [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def peak_rss_mb() -> float:
    """Sum of peak resident sizes (VmHWM) over this process and all its
    descendants (the Spark JVM and its Python workers)."""
    kb = 0
    for pid in _descendants() | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0
