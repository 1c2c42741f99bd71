"""In-memory span tracer for the benchmark's traced runs.

Nothing in the engine is edited: :meth:`Tracer.wrap` replaces a public
function at its module attribute with a timing wrapper, which every caller
that looks the name up at call time (the engine's own call sites do) then
goes through. Each span records its name, start, end, parent span, the
trace id (the micro-batch id, ``read-N`` for a reader query, ``None``
during set-up), the Spark job-id delta over its interval, and whatever the
layer's counters add to it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time


class Tracer:
    def __init__(self, jobid):
        self._jobid = jobid  # () -> next Spark job id
        self._stack: list[dict] = []
        self._wrapped: list[tuple] = []
        self.spans: list[dict] = []
        self.trace = None

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "trace": self.trace,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        j0 = self._jobid()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        except BaseException:
            rec["error"] = True
            raise
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = self._jobid() - j0
            self._stack.pop()

    def wrap(self, module, attr: str, counters=None) -> None:
        """Trace ``module.attr``; ``counters(rec, args, kwargs, result)``
        may add layer counters to the span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(attr) as rec:
                out = fn(*args, **kwargs)
                if counters is not None:
                    counters(rec, args, kwargs, out)
                return out

        setattr(module, attr, traced)
        self._wrapped.append((module, attr, fn))

    def unwrap(self) -> None:
        for module, attr, fn in reversed(self._wrapped):
            setattr(module, attr, fn)
        self._wrapped.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def self_time(span: dict, children: list[dict]) -> float:
    """Duration minus the part of the span's interval its children cover."""
    covered = 0.0
    cur_lo = cur_hi = None
    for c in sorted(children, key=lambda c: c["start"]):
        lo, hi = max(c["start"], span["start"]), min(c["end"], span["end"])
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span["end"] - span["start"] - covered


def layer_metrics(spans: list[dict], traces: set) -> dict[str, float]:
    """Per-layer metrics over the spans whose trace id is in ``traces``.

    A trace is a timed micro-batch (int id) or one reader query (str id). A
    layer is named by its span name, prefixed by the nearest enclosing
    ``read``, ``consume_feed_step`` or compaction span, so the reader's and
    the feed consumer's calls stay apart from the sink's. Per layer, over
    the traces in which it ran: ``.s`` is the median time the layer took in
    a trace, ``.self_s`` the same for self time, ``.jobs`` the mean Spark
    jobs in a trace; ``.calls`` is calls per trace of that kind. Counters a
    span carries are averaged over its calls."""
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    scopes = {"read": "read.", "consume_feed_step": "consume_feed_step.",
              "compact_mor": "compact.", "compact_partial": "compact."}

    def layer(s: dict) -> str:
        p = s["parent"]
        while p is not None:
            anc = by_id[p]
            if anc["name"] in scopes:
                return scopes[anc["name"]] + s["name"]
            p = anc["parent"]
        return s["name"]

    n_kind = {
        int: max(1, sum(isinstance(t, int) for t in traces)),
        str: max(1, sum(isinstance(t, str) for t in traces)),
    }
    per_trace: dict[str, dict] = {}
    counters: dict[str, list[dict]] = {}
    for s in spans:
        if s["trace"] not in traces or "end" not in s:
            continue
        name = layer(s)
        acc = per_trace.setdefault(name, {}).setdefault(s["trace"], [0.0, 0.0, 0, 0])
        acc[0] += s["end"] - s["start"]
        acc[1] += self_time(s, kids.get(s["id"], []))
        acc[2] += s["jobs"]
        acc[3] += 1
        extra = {k: v for k, v in s.items() if k[:2] in ("n_", "r_")}
        if extra:
            counters.setdefault(name, []).append(extra)

    out: dict[str, float] = {}
    for name, by_trace in per_trace.items():
        vals = list(by_trace.values())
        kind = type(next(iter(by_trace)))
        out[f"{name}.s"] = statistics.median(v[0] for v in vals)
        out[f"{name}.self_s"] = statistics.median(v[1] for v in vals)
        out[f"{name}.jobs"] = statistics.fmean(v[2] for v in vals)
        out[f"{name}.calls"] = sum(v[3] for v in vals) / n_kind[kind]
    for name, recs in counters.items():
        for key in sorted({k for r in recs for k in r}):
            out[f"{name}.{key[2:]}"] = statistics.fmean(r[key] for r in recs if key in r)
    return out
