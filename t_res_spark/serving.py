"""Thin HTTP serving layer — the reference app's endpoint surface.

The reference ships a FastAPI app exposing the pipeline over HTTP
(/root/reference/app/app_template.py:44-116: ``/``, ``/test``,
``/resolve_sentence``, ``/resolve_full_text``, ``/run_ner``,
``/run_candidate_selection``, ``/run_disambiguation``, ``/health``).
This module reproduces that surface with the standard library only
(``http.server``). The resolve endpoints call plans.api.run_text, which
runs the batch pipeline's own stage graph (plans.pipeline.resolve) on
the request's sentences; the stage-level endpoints (``/run_ner``,
``/run_candidate_selection``, ``/run_disambiguation``) call the one
operator each of them exposes.

Serving model: ONE long-lived SparkSession owned by the server (the
reference likewise keeps one geoparser instance per app process);
each request is a driver-side interactive job over a tiny
createDataFrame input, and its result is collected. Because the resolve
endpoints go through resolve(), the session needs
``spark.tres.scratchDir`` (shared storage) or a checkpoint dir when the
master is not ``local[*]``.

Requests accept parameters either as query-string values or as a JSON
object body (the reference's pydantic-body-on-GET quirk is normalized
to both-accepted here).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from .plans import api as plan_api


class _BadRequest(ValueError):
    """Malformed client input — routed to a 400, never a 500."""


def _mentions_payload(rows) -> list[dict]:
    return [
        {
            "mention": r["mention"],
            "ner_score": r["ner_score"],
            "pos": r["start_char"],
            "sent_idx": r["turn_idx"],
            "end_pos": r["end_char"],
            "tag": r["tag"],
        }
        for r in sorted(rows, key=lambda r: (r["turn_idx"], r["start_char"]))
    ]


class TResService:
    """Endpoint implementations over the modular stage functions."""

    def __init__(self, spark, aliases, entities=None, ranking_method="fuzzy",
                 threshold: float = 0.7, top_k: int = 7):
        self.spark = spark
        self.aliases = aliases
        self.entities = entities
        self.ranking_method = ranking_method
        self.threshold = threshold
        self.top_k = top_k

    # /resolve_full_text (app_template.py:75-83)
    def resolve_full_text(self, text: str) -> list[dict]:
        return plan_api.run_text(
            self.spark, text, self.aliases, entities=self.entities,
            ranking_method=self.ranking_method, threshold=self.threshold,
            top_k=self.top_k,
        )

    # /resolve_sentence (app_template.py:64-72). Delta vs reference:
    # multi-sentence input is still split internally (the reference
    # trusts the caller to send one sentence); sent_idx is flattened
    # to 0 to preserve the endpoint's output contract either way.
    def resolve_sentence(self, text: str) -> list[dict]:
        out = self.resolve_full_text(text)
        for d in out:
            d["sent_idx"] = 0
        return out

    # /run_ner (app_template.py:85-94): recognition only, with the same
    # script-agnostic extractor the resolve endpoints use (cased rule
    # tagger ∪ gazetteer-anchored uncased tagger)
    def run_ner(self, text: str) -> list[dict]:
        from .operators.gazetteer import extract_mentions_full

        turns = plan_api.sentence_turns(
            self.spark, plan_api.split_sentences(text)
        )
        mentions = extract_mentions_full(turns, self.aliases)
        return _mentions_payload(mentions.collect())

    def _candidates(self, toponyms: list[str]):
        from .operators.ranking import find_candidates

        # distinct surfaces: a repeated one would repeat its candidates
        queries = self.spark.createDataFrame(
            [(t,) for t in dict.fromkeys(toponyms)], "mention string"
        )
        return find_candidates(
            queries, self.aliases, method=self.ranking_method,
            threshold=self.threshold, top_k=self.top_k,
        )

    # /run_candidate_selection (app_template.py:97-101)
    def run_candidate_selection(self, toponyms: list[str]) -> dict:
        match_map, _, _ = plan_api.candidate_maps(
            self._candidates(toponyms).collect()
        )
        out: dict = {t: {} for t in toponyms}
        for mention, variations in match_map.items():
            out[mention] = {
                v: {"score": score, "qids": qids}
                for v, (score, qids) in variations.items()
            }
        return out

    # /run_disambiguation (app_template.py:104-111)
    def run_disambiguation(self, toponyms: list[str]) -> dict:
        from .operators.linking import most_popular

        preds = {
            r["mention"]: {
                "prediction": r["prediction"],
                "ed_score": round(float(r["link_score"]), 3),
            }
            for r in most_popular(self._candidates(toponyms)).collect()
        }
        return {
            t: preds.get(t, {"prediction": "NIL", "ed_score": 0.0})
            for t in toponyms
        }

    # /test (app_template.py:53-61)
    def test(self) -> list[dict]:
        return self.resolve_sentence(
            "Harvey, from London;Thomas and Elizabeth, Barnett."
        )


def make_server(service: TResService, host: str = "127.0.0.1",
                port: int = 0) -> ThreadingHTTPServer:
    """Build (not start) the HTTP server; ``port=0`` binds ephemeral.
    Call ``serve_forever()`` (or ``start_server``) to run."""

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet test runs
            pass

        def _params(self) -> dict:
            parsed = urlparse(self.path)
            params = {k: v[0] for k, v in parse_qs(parsed.query).items()}
            length = int(self.headers.get("Content-Length") or 0)
            if length:
                try:
                    body = json.loads(self.rfile.read(length))
                except (ValueError, UnicodeDecodeError):
                    return params  # undecodable body: fall back to query params
                # a parseable body that is not a JSON object (list/string/
                # number) is a malformed request, not a server error
                if not isinstance(body, dict):
                    raise _BadRequest("request body must be a JSON object")
                params.update(body)
            return params

        def _reply(self, obj, status: int = 200) -> None:
            blob = json.dumps(obj).encode("utf-8")
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(blob)))
            self.end_headers()
            self.wfile.write(blob)

        def _route(self) -> None:
            path = urlparse(self.path).path.rstrip("/") or "/"
            try:
                if path == "/":
                    self._reply({"Welcome to T-Res!": "t_res_spark"})
                elif path == "/health":
                    self._reply({"status": "ok"})
                elif path == "/test":
                    self._reply(service.test())
                elif path in ("/resolve_full_text", "/resolve_sentence",
                              "/run_ner"):
                    p = self._params()
                    text = p.get("text")
                    if text is None:
                        self._reply({"error": "missing 'text'"}, 400)
                        return
                    fn = {
                        "/resolve_full_text": service.resolve_full_text,
                        "/resolve_sentence": service.resolve_sentence,
                        "/run_ner": service.run_ner,
                    }[path]
                    self._reply(fn(text))
                elif path in ("/run_candidate_selection", "/run_disambiguation"):
                    p = self._params()
                    toponyms = p.get("toponyms")
                    if isinstance(toponyms, str):
                        toponyms = [t for t in toponyms.split(",") if t]
                    if not isinstance(toponyms, list):
                        self._reply({"error": "missing 'toponyms'"}, 400)
                        return
                    fn = (
                        service.run_candidate_selection
                        if path == "/run_candidate_selection"
                        else service.run_disambiguation
                    )
                    self._reply(fn([str(t) for t in toponyms]))
                else:
                    self._reply({"error": f"no such endpoint: {path}"}, 404)
            except _BadRequest as e:
                self._reply({"error": str(e)}, 400)
            except Exception:  # surface, don't kill the server; the
                # body stays generic (no internal paths/details leak)
                # and the real exception goes to the server log
                import traceback

                traceback.print_exc()
                self._reply({"error": "internal server error"}, 500)

        do_GET = _route
        do_POST = _route

    return ThreadingHTTPServer((host, port), Handler)


def start_server(service: TResService, host: str = "127.0.0.1",
                 port: int = 0) -> tuple[ThreadingHTTPServer, threading.Thread]:
    """Start the server on a daemon thread; returns (server, thread).
    ``server.server_address[1]`` carries the bound port."""
    srv = make_server(service, host, port)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    return srv, thread
