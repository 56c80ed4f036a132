"""S12: the HTTP QA endpoint — a thin service layer over the serving
cascade, keeping the reference's request/response shape
(`api_server.py:20-33,70-102`: ``POST /answer {query, history,
neo4j_enabled, session_id} -> {answer}``) without pulling a web
framework into the engine: the stdlib ``ThreadingHTTPServer`` carries
the exact same JSON contract.

The engine boundary is ``handle_request`` (pure dict → dict, no
sockets), so any framework — or no framework — can front it; ``serve``
is the batteries-included loopback server used by the tests and by a
single-node deployment.  ``history``'s prior user turns feed the Q5
multi-turn glue on both branches (a follow-up naming no quoted entity
inherits the conversation's most recent quoted terms — see
``planner.plan``); ``neo4j_enabled`` maps to "run the graph templates
vs fulltext-only", mirroring the reference's toggle
(`api_server.py:78-88`).  Both run the engine's lazy cascade:
``neo4j_enabled=false`` is a one-stage cascade, the AND full-text scan,
reported as stage ``fulltext_only`` / template ``fulltext`` even when it
finds nothing.
"""

from __future__ import annotations

import json
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from .engine import answer, fulltext_search, run_cascade
from .planner import plan


def handle_request(spark: SparkSession, sf_dir: str, payload: dict) -> dict:
    """``{query, history?, neo4j_enabled?, session_id?} -> {answer, …}``.

    Unknown keys are ignored; a missing/empty query is a 400-shaped
    error dict (the transport layer decides the status code)."""
    query = payload.get("query")
    if not isinstance(query, str) or not query.strip():
        return {"error": "missing or empty 'query'"}
    graph_enabled = payload.get("neo4j_enabled", True)
    raw_history = payload.get("history") or []
    user_turns = [
        m.get("content", "")
        for m in raw_history
        if isinstance(m, dict) and m.get("role") == "user"
    ]
    if graph_enabled:
        res = answer(spark, sf_dir, query, history=user_turns or None)
    else:
        p = plan(query, history=user_turns or None)
        stages = [("fulltext_only", lambda: fulltext_search(spark, sf_dir, p.tokens, True))]
        res = run_cascade(query, "fulltext", stages, empty_stage="fulltext_only")
    return {
        "answer": res["answer"],
        "stage": res["stage"],
        "template": res["template"],
        "n_rows": res["n_rows"],
        "session_id": payload.get("session_id"),
    }


def serve(
    spark: SparkSession, sf_dir: str, port: int = 0, history=None
) -> ThreadingHTTPServer:
    """Start the loopback QA server (port 0 = ephemeral); caller owns
    shutdown.  One Spark session serves all requests — the engine is
    thread-safe at the plan level and the server threads only block on
    collect.  Pass a ``nl.history.ChatHistory`` to persist both turns of
    every answered request per session (S11, the reference UI's SQLite
    log, `app_new.py:293,341`)."""
    import itertools
    import threading

    # Monotonic across restarts: resume after the store's largest
    # persisted timestamp so recency ordering (L4) survives process
    # lives.
    start = (history.max_ts() + 1) if history is not None else 1
    tick = itertools.count(start)
    tick_lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802 — BaseHTTPRequestHandler contract
            if self.path != "/answer":
                self.send_error(404)
                return
            try:
                length = int(self.headers.get("Content-Length", 0))
                payload = json.loads(self.rfile.read(length) or b"{}")
            except (ValueError, TypeError):
                payload = None
            if not isinstance(payload, dict):
                out, status = {"error": "body must be a JSON object"}, 400
            else:
                # Engine errors (Spark analysis failures, malformed
                # history contents, …) must come back as a JSON 500, not
                # kill the connection with a traceback through the
                # default handle_error.
                try:
                    out = handle_request(spark, sf_dir, payload)
                    status = 400 if "error" in out else 200
                except Exception as exc:  # noqa: BLE001 — service boundary
                    out, status = {"error": f"internal error: {exc}"}, 500
                if status == 200 and history is not None and out.get("session_id"):
                    # Hold the lock across BOTH appends: ticket allocation
                    # and insertion must be atomic per request, or two
                    # concurrent requests for one session interleave
                    # user/assistant rows and break the alternating-turn
                    # shape list_chats/messages consumers assume.
                    # Persistence is best-effort AFTER a computed answer:
                    # a store failure (locked/full sqlite) must not turn
                    # a successful answer into a dropped connection — the
                    # client gets its answer plus a history_error note.
                    sid = out["session_id"]
                    try:
                        with tick_lock:
                            t0, t1 = next(tick), next(tick)
                            # single sqlite transaction: both turns
                            # persist or neither (no orphaned user row)
                            history.append_turn(sid, payload["query"], out["answer"], t0, t1)
                    except Exception as exc:  # noqa: BLE001 — best-effort store
                        out["history_error"] = f"history not persisted: {exc}"
            body = json.dumps(out).encode("utf-8")
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # quiet test output
            pass

    server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server
