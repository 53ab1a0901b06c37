"""REST API — EP3 parity (reference `api/LightningEndPoints.scala`).

Endpoints (reference :53-168):
- POST /api/q    {"query": sql}  -> JSON array of row objects, streamed
- GET  /api/qdq?name=..&table=..&validity=valid|invalid&limit=n
- GET  /api/edq?name=..&table=..&validity=...   (full export)

Row encoding mirrors `rowToJson` (:187-254): binary -> base64,
timestamps/dates ISO-formatted, struct -> object, map<string,_> ->
object, arrays -> lists.

Implementation: stdlib http.server (no web framework in the container).
A query's rows stream through `df.toLocalIterator()`, so only one
partition is resident on the driver at a time — the reference makes the
same choice to avoid OOM (comment at `DataQualitySpec.scala:612`). A
local result (a command's own rows, built on the driver as a
`LocalRelation`) is collected instead: its rows are already on the
driver, and collecting them runs no Spark job.

Hardening beyond the reference:
- content negotiation: requests must be application/json; responses are
  a JSON array (default) or NDJSON when `Accept: application/x-ndjson`.
- `max_rows` server cap (applied as `df.limit` — reaches the PLAN as
  CollectLimit, not a post-hoc truncation; a local result is sliced)
  and `query_timeout_sec`
  enforced by cancelling jobs carrying the request's job tag.
- a mid-stream Spark failure emits a WELL-FORMED error trailer — the
  final array element / NDJSON line is `{"__error__": msg}` — instead
  of a silently truncated body (the reference aborts the socket).
"""

from __future__ import annotations

import base64
import datetime
import decimal
import json
import threading
import time
from itertools import chain
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse


def encode_value(v):
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode("ascii")
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, dict):
        return {str(k): encode_value(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [encode_value(x) for x in v]
    if hasattr(v, "asDict"):  # Row (struct)
        return {k: encode_value(x) for k, x in v.asDict().items()}
    return v


def rows_from_df(df, max_rows: int | None = None):
    """Row iterator for streaming, capped at ``max_rows``. Pulling the
    FIRST row eagerly (in _respond_df) forces execution of the first
    partition before any HTTP status line is sent, so runtime errors
    (not just analysis errors) still produce a clean 400.

    A local result (a command's rows, a `LocalRelation`) is already on
    the driver: it is collected without a job and capped by slicing,
    where `toLocalIterator` would run one job per partition. Any other
    plan is capped by `df.limit` (a CollectLimit) and streamed."""
    if df.isLocal():
        return iter(df.collect()[:max_rows])
    if max_rows is not None:
        df = df.limit(max_rows)
    return df.toLocalIterator()


class LightningAPIServer:
    """Minimal threaded HTTP server over a LightningContext.

    ``max_rows`` caps every /api/q result via ``df.limit`` (visible in
    the plan as CollectLimit — the scan stops early, nothing is
    computed past the cap); a local result is sliced.
    ``query_timeout_sec`` cancels the jobs carrying the request's job
    tag after the deadline: before the first row that is a clean 408;
    mid-stream it becomes the error trailer.
    """

    def __init__(self, ctx, host: str = "127.0.0.1", port: int = 0,
                 max_rows: int | None = None,
                 query_timeout_sec: float | None = None):
        self.ctx = ctx
        self.max_rows = max_rows
        self.query_timeout_sec = query_timeout_sec
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # silent
                pass

            def _negotiate(self) -> str | None:
                """'array' | 'ndjson' from Accept; None -> 406 (sent)."""
                accept = self.headers.get("Accept", "*/*")
                if "application/x-ndjson" in accept:
                    return "ndjson"
                if ("application/json" in accept or "*/*" in accept
                        or "application/*" in accept or not accept):
                    return "array"
                self._error(406, f"cannot produce {accept!r}; this "
                            "endpoint serves application/json or "
                            "application/x-ndjson")
                return None

            def _respond_df(self, df, fmt: str = "array"):
                # Execute up to the first row BEFORE emitting the status
                # line: Spark evaluates lazily, so without this a
                # runtime failure would surface mid-stream after "200"
                # is already on the wire.
                sentinel = object()
                sc = outer.ctx.spark.sparkContext
                stop_evt = None
                tag = None
                if outer.query_timeout_sec is not None:
                    # job TAGS, not setJobGroup: a SQL query executes as
                    # a SEQUENCE of jobs under AQE, and a one-shot
                    # cancelJobGroup races with the next job's
                    # submission (observed: the cancel lands between
                    # jobs and the query completes). The enforcer keeps
                    # cancelling every 250 ms after the deadline until
                    # the request finishes, so late-submitted jobs die
                    # too.
                    tag = f"lightning-api-{time.monotonic_ns()}"
                    sc.addJobTag(tag)
                    sc.setInterruptOnCancel(True)
                    stop_evt = threading.Event()

                    def _enforce(tag=tag, evt=stop_evt):
                        if not evt.wait(outer.query_timeout_sec):
                            while not evt.wait(0.25):
                                try:
                                    sc.cancelJobsWithTag(tag)
                                except Exception:
                                    pass

                    threading.Thread(target=_enforce, daemon=True).start()
                try:
                    try:
                        rows = rows_from_df(df, outer.max_rows)
                        first = next(rows, sentinel)
                    except Exception as e:
                        msg = str(e)[:500]
                        code = 408 if "cancelled" in msg.lower() else 400
                        return self._error(code, msg)
                    ctype = ("application/x-ndjson" if fmt == "ndjson"
                             else "application/json")
                    self.send_response(200)
                    self.send_header("Content-Type", ctype)
                    self.send_header("Access-Control-Allow-Origin", "*")
                    self.end_headers()
                    write = self.wfile.write
                    emitted = 0
                    try:
                        if fmt == "array":
                            write(b"[")
                        if first is not sentinel:
                            for row in chain([first], rows):
                                # serialize FULLY before any write: a
                                # row that fails to encode must not
                                # leave a dangling separator for the
                                # error trailer to double
                                obj = {k: encode_value(v)
                                       for k, v in row.asDict().items()}
                                payload = json.dumps(obj).encode("utf-8")
                                if emitted and fmt == "array":
                                    write(b",")
                                write(payload)
                                if fmt == "ndjson":
                                    write(b"\n")
                                emitted += 1
                        if fmt == "array":
                            write(b"]")
                    except BrokenPipeError:
                        pass
                    except Exception as e:
                        # headers already sent: finish the payload as
                        # WELL-FORMED JSON whose last element/line is an
                        # error trailer — a client parsing the body sees
                        # the failure explicitly instead of a truncation
                        trailer = json.dumps(
                            {"__error__": str(e)[:500]}).encode("utf-8")
                        try:
                            if fmt == "array":
                                write((b"," if emitted else b"")
                                      + trailer + b"]")
                            else:
                                write(trailer + b"\n")
                        except BrokenPipeError:
                            pass
                finally:
                    if stop_evt is not None:
                        stop_evt.set()
                        try:
                            sc.removeJobTag(tag)
                        except Exception:
                            pass

            def _error(self, code: int, msg: str):
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(json.dumps({"error": msg}).encode())

            def do_POST(self):
                if urlparse(self.path).path != "/api/q":
                    return self._error(404, "unknown endpoint")
                try:
                    ctype = self.headers.get("Content-Type",
                                             "application/json")
                    if not ctype.split(";")[0].strip() in (
                            "application/json", ""):
                        return self._error(
                            415, f"expected application/json body, "
                                 f"got {ctype!r}")
                    fmt = self._negotiate()
                    if fmt is None:
                        return
                    length = int(self.headers.get("Content-Length", "0"))
                    body = json.loads(self.rfile.read(length) or b"{}")
                    query = body.get("query")
                    if not query:
                        return self._error(400, "missing 'query'")
                    self._respond_df(outer.ctx.sql(query), fmt)
                except BrokenPipeError:
                    pass
                except Exception as e:
                    self._error(400, str(e)[:500])

            def do_GET(self):
                u = urlparse(self.path)
                q = {k: v[0] for k, v in parse_qs(u.query).items()}
                try:
                    if u.path in ("/api/qdq", "/api/edq"):
                        name, table = q.get("name"), q.get("table")
                        if not name or not table:
                            return self._error(400, "missing name/table")
                        valid = q.get("validity", "valid") == "valid"
                        limit = (f" LIMIT {int(q['limit'])}"
                                 if u.path == "/api/qdq" and "limit" in q else "")
                        sql = (f"SHOW DQ {'VALID' if valid else 'INVALID'} "
                               f"RECORD {name} TABLE {table}{limit}")
                        self._respond_df(outer.ctx.sql(sql))
                    else:
                        self._error(404, "unknown endpoint")
                except BrokenPipeError:
                    pass
                except Exception as e:
                    self._error(400, str(e)[:500])

        self._server = ThreadingHTTPServer((host, port), Handler)
        self.host, self.port = self._server.server_address
        self._thread: threading.Thread | None = None

    def start(self) -> "LightningAPIServer":
        self._thread = threading.Thread(target=self._server.serve_forever,
                                        daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
