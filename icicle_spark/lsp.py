"""Minimal LSP server — ``icicle-spark lsp`` (reference
icicle-compiler/main/icicle.hs:71-75 ``lsp`` subcommand).

The reference serves its checker over the Language Server Protocol;
this serves the same diagnostic surface (``checker.py``'s verbatim
``## Parse error`` / ``## Check error`` / ``## Desugar error``
blocks) over stdio JSON-RPC:

* ``initialize`` / ``initialized`` / ``shutdown`` / ``exit`` — the
  protocol handshake; capabilities advertise full-document sync.
* ``textDocument/didOpen`` / ``didChange`` / ``didSave`` — validate
  the document and push ``textDocument/publishDiagnostics``.

Two document shapes are understood, matching the two things a user
edits:

* **query documents** (first non-blank line starts with ``from ``) —
  each non-blank line is checked through the same ladder the REPL's
  error path uses (unterminated strings, unknown variables with
  edit-distance suggestions, then a full ``parse_program`` for
  structural errors). Known fields/functions come from
  ``initializationOptions: {"fields": [...], "functions": [...]}``.
* **dictionary documents** (everything else, i.e. ``.icicle``
  files) — ``parse_dictionary_source``; a ``SourceError`` becomes an
  error diagnostic at its source location and every skipped
  declaration becomes a warning.

Diagnostics carry the full reference-rendered block in ``message``
so an editor shows exactly what the reference repl prints. Pure
stdlib + checker — no SparkSession is ever started here (the LSP
serves the front-end only, like the reference's)."""

from __future__ import annotations

import io
import json
import re
import sys
from typing import Any

_ERROR = 1
_WARNING = 2


def _range(line0: int, col0: int, length: int = 1) -> dict:
    return {
        "start": {"line": line0, "character": col0},
        "end": {"line": line0, "character": col0 + max(length, 1)},
    }


def _diag_from_source_error(se, line_offset: int = 0) -> dict:
    if se.loc is not None:
        line0 = se.loc[0] - 1 + line_offset
        col0 = max(se.loc[1] - 1, 0)
    else:
        line0, col0 = line_offset, 0
    # highlight to the end of the offending token when we can find it
    m = re.search(r"Unknown variable (\S+)", se.message or "")
    length = len(m.group(1)) if m else 1
    return {
        "range": _range(line0, col0, length),
        "severity": _ERROR,
        "source": "icicle",
        "code": se.kind,
        "message": "\n".join(se.render()),
    }


def validate(
    text: str,
    fields: list[str] | None = None,
    functions: list[str] | None = None,
) -> list[dict]:
    """All diagnostics for one document (see module docstring)."""
    from icicle_spark.checker import SourceError, diagnose

    fields = fields or []
    functions = functions or []
    lines = text.splitlines()
    first = next((ln for ln in lines if ln.strip()), "")
    diags: list[dict] = []
    if first.lstrip().startswith("from "):
        from icicle_spark.source_lang import parse_program

        for i, ln in enumerate(lines):
            if not ln.strip() or ln.lstrip().startswith("--"):
                continue
            try:
                parse_program(
                    [ln], entity_col="entity",
                    time_col="time",
                )
            except Exception as exc:  # noqa: BLE001 — every failure
                # becomes a diagnostic, like the repl's error path
                d = diagnose(
                    ln, exc, fields=fields, functions=functions
                )
                if d is not None:
                    diags.append(_diag_from_source_error(d, i))
                else:
                    diags.append({
                        "range": _range(i, 0, max(len(ln), 1)),
                        "severity": _ERROR,
                        "source": "icicle",
                        "message": f"error: {exc}",
                    })
        return diags
    from icicle_spark.source_lang import parse_dictionary_source

    try:
        _, skipped = parse_dictionary_source(text)
    except SourceError as se:
        return [_diag_from_source_error(se)]
    except (ValueError, OSError) as exc:
        return [{
            "range": _range(0, 0),
            "severity": _ERROR,
            "source": "icicle",
            "message": f"error: {exc}",
        }]
    for name, reason in skipped.items():
        # best-effort location: the declaration's first mention
        line0, col0, length = 0, 0, 1
        for i, ln in enumerate(lines):
            j = ln.find(name)
            if j >= 0:
                line0, col0, length = i, j, len(name)
                break
        diags.append({
            "range": _range(line0, col0, length),
            "severity": _WARNING,
            "source": "icicle",
            "code": "skipped",
            "message": f"SKIPPED {name}: {reason}",
        })
    return diags


class _BadJson(Exception):
    """A well-FRAMED body that is not valid JSON: the byte stream is
    still in sync (exactly Content-Length bytes were consumed), so
    the server can answer -32700 and keep serving."""


class _Conn:
    """Content-Length framed JSON-RPC over binary streams."""

    def __init__(self, rx: io.BufferedIOBase, tx: io.BufferedIOBase):
        self.rx, self.tx = rx, tx

    def read(self) -> dict | None:
        length = None
        while True:
            line = self.rx.readline()
            if not line:
                return None  # EOF
            line = line.strip()
            if not line:
                break  # header/body separator
            key, _, val = line.partition(b":")
            if key.lower() == b"content-length":
                length = int(val.strip())  # junk header -> ValueError
                # (framing genuinely lost; serve() exits cleanly)
        if length is None:
            return None
        if length == 0:
            # a well-framed empty body is an in-sync bad message, not
            # EOF: answer -32700 like other bad bodies (r5 ADVICE)
            raise _BadJson("empty body")
        body = self.rx.read(length)
        if not body:
            return None
        if len(body) < length:
            # short read after consuming part of the frame: framing is
            # still in sync up to here — surface as a parse error
            raise _BadJson("truncated body")
        try:
            return json.loads(body.decode("utf-8"))
        except (ValueError, UnicodeDecodeError) as e:
            raise _BadJson(str(e)) from e

    def write(self, msg: dict) -> None:
        body = json.dumps(msg, separators=(",", ":")).encode("utf-8")
        self.tx.write(
            b"Content-Length: %d\r\n\r\n" % len(body)
        )
        self.tx.write(body)
        self.tx.flush()


def serve(rx=None, tx=None) -> int:
    """Run the server until ``exit`` or EOF. Returns the LSP exit
    code contract: 0 after ``shutdown``+``exit``, 1 on abrupt end.

    A long-lived server must survive bad input: malformed params or
    checker surprises answer requests with a JSON-RPC error (and log
    notifications to stderr); a well-framed but invalid JSON body
    answers -32700 and keeps serving (the byte stream is still in
    sync); only a broken Content-Length header — framing genuinely
    lost, no resync possible — exits cleanly."""
    conn = _Conn(rx or sys.stdin.buffer, tx or sys.stdout.buffer)
    fields: list[str] = []
    functions: list[str] = []
    docs: dict[str, str] = {}
    shut = False

    def publish(uri: str) -> None:
        conn.write({
            "jsonrpc": "2.0",
            "method": "textDocument/publishDiagnostics",
            "params": {
                "uri": uri,
                "diagnostics": validate(docs.get(uri, ""),
                                        fields, functions),
            },
        })

    def handle(msg: dict, method: str, params: dict) -> bool:
        """One message; returns True when the server should exit."""
        nonlocal fields, functions, shut
        if method == "initialize":
            opts = params.get("initializationOptions") or {}
            fields = list(opts.get("fields") or [])
            functions = list(opts.get("functions") or [])
            conn.write({
                "jsonrpc": "2.0",
                "id": msg["id"],
                "result": {
                    "capabilities": {"textDocumentSync": 1},
                    "serverInfo": {"name": "icicle-spark-lsp"},
                },
            })
        elif method == "textDocument/didOpen":
            doc = params["textDocument"]
            docs[doc["uri"]] = doc.get("text", "")
            publish(doc["uri"])
        elif method == "textDocument/didChange":
            uri = params["textDocument"]["uri"]
            changes = params.get("contentChanges") or []
            if changes:
                # full-sync (capability above): last change wins
                docs[uri] = changes[-1].get("text", "")
            publish(uri)
        elif method == "textDocument/didSave":
            uri = params["textDocument"]["uri"]
            if "text" in params:
                docs[uri] = params["text"]
            publish(uri)
        elif method == "textDocument/didClose":
            # LSP contract: clear diagnostics for the closed file
            # (clients keep stale squiggles otherwise) and drop it
            # from the cache so a long editor session stays bounded
            uri = params["textDocument"]["uri"]
            docs.pop(uri, None)
            conn.write({
                "jsonrpc": "2.0",
                "method": "textDocument/publishDiagnostics",
                "params": {"uri": uri, "diagnostics": []},
            })
        elif method == "shutdown":
            shut = True
            conn.write({"jsonrpc": "2.0", "id": msg["id"],
                        "result": None})
        elif method == "exit":
            return True
        elif "id" in msg:
            # unknown REQUEST: method-not-found, per JSON-RPC
            conn.write({
                "jsonrpc": "2.0",
                "id": msg["id"],
                "error": {"code": -32601,
                          "message": f"method not found: {method}"},
            })
        # unknown notifications are dropped silently (LSP contract)
        return False

    while True:
        try:
            msg = conn.read()
        except _BadJson as e:
            # framing intact (exact body consumed): answer -32700
            # Parse Error per JSON-RPC and keep serving
            conn.write({
                "jsonrpc": "2.0",
                "id": None,
                "error": {"code": -32700,
                          "message": f"parse error: {e}"},
            })
            continue
        except ValueError:
            return 0 if shut else 1  # framing lost — no resync
        if msg is None:
            return 0 if shut else 1
        method = msg.get("method", "")
        params: dict[str, Any] = msg.get("params") or {}
        try:
            if handle(msg, method, params):
                return 0 if shut else 1
        except Exception as e:  # noqa: BLE001 — isolate per message
            if "id" in msg:
                conn.write({
                    "jsonrpc": "2.0",
                    "id": msg["id"],
                    "error": {
                        "code": -32603,
                        "message": f"{type(e).__name__}: {e}",
                    },
                })
            else:
                print(
                    f"icicle-spark lsp: error handling {method}: "
                    f"{type(e).__name__}: {e}",
                    file=sys.stderr,
                )


if __name__ == "__main__":  # pragma: no cover — exercised via CLI
    raise SystemExit(serve())
