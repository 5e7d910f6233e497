"""Closed-loop MCP load generator, run as its own process.

Each client is one agent: it sends ``qurio_search``, waits for the
reply, then reads the page of the top hit with ``qurio_read_page``,
and only then starts its next turn.  No counted turn starts after the
deadline, or once the stop file (if the plan names one) exists; the
turn in flight completes, and clients that are done keep sending
uncounted turns until the last counted one finishes, so the window
ends under full load.  Every request is written
as one JSON line (latency from send to full reply, the request
arguments and the reply text) for the parent to check and summarise.

Usage: python3 loadgen.py PLAN.json OUT.jsonl
where PLAN holds {"url", "seconds", "stop_file", "clients": [[query, ...], ...]}.
Uses the standard library only.
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time
import urllib.request

_URL_RE = re.compile(r"^URL: (\S+)$", re.MULTILINE)
TIMEOUT_S = 120


def call(url: str, rid: str, tool: str, args: dict) -> dict:
    body = json.dumps({
        "jsonrpc": "2.0", "id": rid, "method": "tools/call",
        "params": {"name": tool, "arguments": args},
    }).encode()
    req = urllib.request.Request(
        url, data=body, headers={"Content-Type": "application/json"}
    )
    with urllib.request.urlopen(req, timeout=TIMEOUT_S) as resp:
        return json.loads(resp.read())


def reply_text(resp: dict) -> str | None:
    try:
        return resp["result"]["content"][0]["text"]
    except (KeyError, IndexError, TypeError):
        return None


class Load:
    """Closed-loop clients sharing one window."""

    def __init__(self, plan: dict):
        self.url = plan["url"]
        self.deadline = time.time() + float(plan["seconds"])
        self.stop_file = plan.get("stop_file")
        self.counting = len(plan["clients"])  # clients still in counted turns
        self.lock = threading.Lock()

    def over(self) -> bool:
        return time.time() >= self.deadline or bool(
            self.stop_file and os.path.exists(self.stop_file))

    def client(self, cid: int, queries: list[dict], out: list[dict]) -> None:
        turns = enumerate(queries)
        for i, q in turns:
            if self.over():
                break
            self.turn(cid, i, q, out, True)
        with self.lock:
            self.counting -= 1
        # keep loading until every client's last counted turn is done, so
        # the last counted requests see the same concurrency as the rest
        for i, q in turns:
            if self.counting == 0:
                break
            self.turn(cid, i, q, out, False)

    def turn(self, cid: int, i: int, q: dict, out: list[dict], counted: bool) -> None:
        top = _request(self.url, f"c{cid}-{i}-s", "qurio_search", q, out, counted)
        if top:
            _request(self.url, f"c{cid}-{i}-r", "qurio_read_page", {"url": top},
                     out, counted)


def _request(url, rid, tool, args, out, counted) -> str | None:
    """Send one request; -> the top result URL of a search reply."""
    rec = {"id": rid, "tool": tool, "args": args, "counted": counted,
           "t0": time.time()}
    t0 = time.perf_counter()
    try:
        resp = call(url, rid, tool, args)
        rec["ok"] = "error" not in resp
        rec["text"] = reply_text(resp)
        if not rec["ok"]:
            rec["error"] = resp.get("error")
    except (OSError, ValueError) as e:  # socket errors, timeouts, bad JSON
        rec["ok"], rec["text"], rec["error"] = False, None, repr(e)
    rec["ms"] = (time.perf_counter() - t0) * 1000.0
    rec["t1"] = time.time()
    out.append(rec)
    if tool == "qurio_search" and rec["ok"] and rec["text"]:
        m = _URL_RE.search(rec["text"])
        return m.group(1) if m else None
    return None


def main(plan_path: str, out_path: str) -> int:
    with open(plan_path) as f:
        plan = json.load(f)
    load = Load(plan)
    outs = [[] for _ in plan["clients"]]
    threads = [threading.Thread(target=load.client, args=(c, qs, outs[c]))
               for c, qs in enumerate(plan["clients"])]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    with open(out_path, "w") as f:
        for recs in outs:
            for r in recs:
                f.write(json.dumps(r) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
