"""Read-only HTTP serving layer over the analytics surface.

Mirrors the reference backend's database endpoints
(backend/src/index.js:88-171) on the stdlib ``http.server`` — no web
framework, ~transport only; every query semantic lives in
analytics/achilles_lite (run_sql / table_page / list_tables):

    GET  /api/db/tables                       → ["omop_person", ...]
    GET  /api/db/data?table=T&limit=N&offset=K
         → {"data": [...], "total": n, "limit": N, "offset": K}
    POST /api/db/query   body {"sql": "SELECT ..."}
         → {"data": [...], "rowCount": n,
            "fields": [{"name": ..., "dataType": ...}]}
    GET  /api/health                          → {"status": "ok", ...}
    GET  /api/etl/status                      → pipeline progress (from
         the run's JSON checkpoint — the reference serves mock data here;
         backend/src/index.js:40-86)

Safety contract (the part the reference leaves implicit):
- READ-ONLY: /api/db/query admits a single SELECT/WITH/VALUES statement;
  DDL/DML and multi-statement payloads are rejected with 400 before any
  Spark call.
- ROW-CAPPED: every response collects at most ``max_rows`` rows on the
  driver, so a browse endpoint can never materialize an unbounded result
  (the same browse-not-bulk-export contract as table_page's docstring —
  bulk readers scan the parquet layers directly).

Spark job submission is thread-safe, so the ThreadingHTTPServer serves
concurrent requests by interleaving scheduler stages — the same pattern
the pipeline's concurrent writes use.
"""

from __future__ import annotations

import json
import re
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame, SparkSession

from synthea2omop_etl_spark.analytics.achilles_lite import run_sql, table_page

_READONLY_RE = re.compile(r"^\s*(select|with|values)\b", re.IGNORECASE)
#: statement keywords that must not appear anywhere OUTSIDE string
#: literals — a `WITH cte AS (...) INSERT INTO ...` statement passes the
#: prefix check but is still a write (CTEs may precede DML in SQL)
_WRITE_KEYWORDS = re.compile(
    r"\b(insert|update|delete|drop|create|alter|merge|truncate|grant|"
    r"revoke|set|refresh|cache|uncache|msck|analyze|load)\b",
    re.IGNORECASE,
)


def _sanitize(sql: str) -> str:
    """One-pass lexical scan that blanks string literals, blanks quoted
    identifiers, and strips comments TOGETHER. Ordered regex passes are
    bypassable: stripping comments BEFORE blanking strings lets a ``--``
    INSIDE a string literal truncate the text the later passes validate
    (a CTE whose literal contains ``--`` could smuggle an INSERT past
    the keyword scan). Recognizing all token classes in one left-to-right
    pass closes that, because a character consumed as string content can
    never be re-read as a comment opener. Handles ``''`` and ``\\'``
    escapes and Spark's nested bracketed comments."""
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":  # string literal ('' and \' escapes)
            i += 1
            while i < n:
                if sql[i] == "\\":
                    i += 2
                elif sql[i] == "'":
                    if i + 1 < n and sql[i + 1] == "'":
                        i += 2
                    else:
                        i += 1
                        break
                else:
                    i += 1
            out.append("''")
        elif c in ('"', "`"):  # quoted identifier ("" / `` escapes)
            q = c
            i += 1
            while i < n:
                if sql[i] == q:
                    if i + 1 < n and sql[i + 1] == q:
                        i += 2
                    else:
                        i += 1
                        break
                else:
                    i += 1
            out.append(q + q)
        elif c == "-" and sql[i : i + 2] == "--":  # line comment
            while i < n and sql[i] != "\n":
                i += 1
            out.append(" ")
        elif c == "/" and sql[i : i + 2] == "/*":  # bracketed (nests)
            depth, i = 1, i + 2
            while i < n and depth:
                if sql[i : i + 2] == "/*":
                    depth, i = depth + 1, i + 2
                elif sql[i : i + 2] == "*/":
                    depth, i = depth - 1, i + 2
                else:
                    i += 1
            out.append(" ")
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _assert_plan_readonly(spark: SparkSession, sql: str) -> None:
    """Defense-in-depth layer: parse the statement with the session's own
    SQL parser and walk the logical-plan tree (children + innerChildren,
    where CTE definitions live), rejecting any Command node (DDL/most
    DML) or Insert* node (InsertIntoStatement / InsertIntoDir are NOT
    Commands at parse time — a `WITH ... INSERT ...` hides one under
    UnresolvedWith). Unlike the lexical layer this sees exactly what
    spark.sql would execute, under the session's actual parser config."""
    parser = spark._jsparkSession.sessionState().sqlParser()
    try:
        plan = parser.parsePlan(sql)
    except Exception as exc:
        first = str(exc).strip().splitlines()[0] if str(exc) else "?"
        raise ValueError(f"could not parse query: {first[:200]}") from None
    cmd_iface = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.plans.logical.Command"
    )
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getName().rsplit(".", 1)[-1].rstrip("$")
        if cmd_iface.isInstance(node) or name.startswith("Insert"):
            raise ValueError(
                f"read-only endpoint: plan contains write node {name!r}"
            )
        for getter in ("children", "innerChildren"):
            seq = getattr(node, getter)()
            for k in range(seq.size()):
                stack.append(seq.apply(k))


def _assert_readonly(sql: str, spark: SparkSession | None = None) -> None:
    """Reject anything but one read-only SELECT/WITH/VALUES statement.
    Layer 1 (lexical): one-pass sanitize (strings/identifiers blanked and
    comments stripped together — see :func:`_sanitize`), then prefix +
    write-keyword scan and interior-semicolon (multi-statement) check.
    Layer 2 (semantic, when ``spark`` is given): parse-tree scan via
    :func:`_assert_plan_readonly`, which catches anything lexing can't —
    e.g. writes reachable only under the session's parser config."""
    body = _sanitize(sql).strip().rstrip(";")
    if ";" in body:
        raise ValueError("multi-statement queries are not allowed")
    if not _READONLY_RE.match(body):
        raise ValueError(
            "read-only endpoint: only SELECT / WITH / VALUES queries"
        )
    hit = _WRITE_KEYWORDS.search(body)
    if hit:
        raise ValueError(
            f"read-only endpoint: statement keyword {hit.group(0)!r} "
            "is not allowed"
        )
    if spark is not None:
        _assert_plan_readonly(spark, sql)


def _etl_status(checkpoint_path: str | None) -> dict:
    """Real ETL progress from the pipeline's JSON checkpoint — the field
    shape of the reference's /api/etl/status (backend/src/index.js:40-86,
    which returns hard-coded mock data; here the checkpoint ledger IS the
    live state, since run_pipeline rewrites it after every step/write)."""
    from synthea2omop_etl_spark.plans.pipeline import ETL_STEPS, Checkpoint

    # a missing or torn ledger reads as empty: the not-started shape,
    # never a 500 from a monitoring endpoint
    state = Checkpoint(checkpoint_path).state
    expected = [s.name for s in ETL_STEPS]
    steps = []
    for name in expected:
        entry = state.get(name) or {}
        done = bool(entry.get("completed"))
        steps.append(
            {
                "step": name,
                "status": "Completed" if done else "Pending",
                "completedAt": entry.get("ts"),
                "rows": (entry.get("stats") or {}).get("rows"),
                "error": None,
            }
        )
    n_done = sum(1 for s in steps if s["status"] == "Completed")
    current = next(
        (s["step"] for s in steps if s["status"] == "Pending"), None
    )
    writes = sorted(k for k in state if k.startswith("write_"))
    return {
        "isRunning": 0 < n_done < len(expected),
        "overallProgress": round(100.0 * n_done / max(len(expected), 1), 2),
        "completedSteps": n_done,
        "totalSteps": len(expected),
        "currentStep": current,
        "etlSteps": steps,
        "tableProgress": [
            {
                "targetTable": k[len("write_"):],
                "progress": 100,
                "completedAt": (state[k] or {}).get("ts"),
            }
            for k in writes
        ],
    }


def _rows_json(df: DataFrame, max_rows: int) -> list[dict]:
    """Collect ≤ max_rows rows as JSON-safe dicts (dates/decimals/binary
    stringified — the endpoint is a display surface, not a data channel)."""
    return [
        {k: v for k, v in r.asDict(recursive=True).items()}
        for r in df.limit(max_rows).collect()
    ]


def _json_default(o):
    return str(o)


def create_server(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    host: str = "127.0.0.1",
    port: int = 0,
    max_rows: int = 1000,
    checkpoint_path: str | None = None,
) -> ThreadingHTTPServer:
    """Build (but don't start) the HTTP server; ``port=0`` binds an
    ephemeral port (read it back from ``server.server_address`` — the
    pytest path). Call ``serve_forever()`` to run."""

    class Handler(BaseHTTPRequestHandler):
        # silence the default stderr access log (pytest noise)
        def log_message(self, fmt, *args):  # noqa: ARG002
            pass

        def _send(self, code: int, payload: dict | list) -> None:
            body = json.dumps(payload, default=_json_default).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _error(self, code: int, message: str) -> None:
            self._send(code, {"error": message})

        def do_GET(self) -> None:  # noqa: N802 (stdlib contract)
            url = urlparse(self.path)
            try:
                if url.path == "/api/health":
                    self._send(200, {"status": "ok", "tables": len(tables)})
                elif url.path == "/api/etl/status":
                    self._send(200, _etl_status(checkpoint_path))
                elif url.path == "/api/db/tables":
                    self._send(200, sorted(tables))
                elif url.path == "/api/db/data":
                    q = parse_qs(url.query)
                    name = q.get("table", [None])[0]
                    if name not in tables:
                        self._error(404, f"unknown table: {name!r}")
                        return
                    limit = min(int(q.get("limit", ["10"])[0]), max_rows)
                    offset = int(q.get("offset", ["0"])[0])
                    df = tables[name]
                    self._send(
                        200,
                        {
                            "data": _rows_json(
                                table_page(df, limit=limit, offset=offset),
                                max_rows,
                            ),
                            "total": df.count(),
                            "limit": limit,
                            "offset": offset,
                        },
                    )
                else:
                    self._error(404, f"no such endpoint: {url.path}")
            except ValueError as exc:
                self._error(400, str(exc))
            except Exception as exc:  # surface Spark errors as 500 JSON
                self._error(500, str(exc))

        def do_POST(self) -> None:  # noqa: N802
            url = urlparse(self.path)
            if url.path != "/api/db/query":
                self._error(404, f"no such endpoint: {url.path}")
                return
            try:
                n = int(self.headers.get("Content-Length", "0"))
                payload = json.loads(self.rfile.read(n) or b"{}")
                sql = payload.get("sql")
                if not sql:
                    self._error(400, "missing 'sql' in request body")
                    return
                _assert_readonly(sql, spark)
                out = run_sql(spark, sql, tables)
                rows = _rows_json(out, max_rows)
                self._send(
                    200,
                    {
                        "data": rows,
                        "rowCount": len(rows),
                        "fields": [
                            {
                                "name": f.name,
                                "dataType": f.dataType.simpleString(),
                            }
                            for f in out.schema.fields
                        ],
                    },
                )
            except (ValueError, json.JSONDecodeError) as exc:
                self._error(400, str(exc))
            except Exception as exc:
                self._error(500, str(exc))

    return ThreadingHTTPServer((host, port), Handler)


def serve(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    host: str = "127.0.0.1",
    port: int = 8000,
    max_rows: int = 1000,
    checkpoint_path: str | None = None,
) -> None:
    """Blocking entry point for the CLI ``serve`` command."""
    server = create_server(spark, tables, host=host, port=port,
                           max_rows=max_rows,
                           checkpoint_path=checkpoint_path)
    bound = server.server_address
    print(json.dumps({"listening": f"http://{bound[0]}:{bound[1]}"}))
    try:
        server.serve_forever()
    finally:
        server.server_close()
