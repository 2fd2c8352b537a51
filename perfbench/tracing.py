"""Spans recorded from the benchmark's own code, and the in-process replay.

``Tracer`` keeps spans in memory (name, start, end, parent) and writes
them out when the benchmark ends.  A layer's self time is its spans'
duration minus the time covered by their direct children.

``replay`` runs a slice of a workload single-threaded through
``process_udf.func`` -- the body Spark runs per Arrow batch -- with the
names ``functions.udfs`` looks up (``extract_row``, ``parse_row`` and the
layer entry points) temporarily wrapped in spans, so spans nest as
batch > row kernel > layer.  The wrappers exist only for the duration of
the replay and only in the benchmark process; the Spark workers never see
them.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self):
        # [name, start_ns, end_ns, parent_index]
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter_ns(), None,
                           self._stack[-1] if self._stack else -1])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter_ns()

    def wrap(self, name: str, fn, on_result=None):
        """``fn`` with every call recorded as a span named ``name``;
        ``on_result(result)`` sees each return value (for hit counts)."""

        def wrapped(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        return wrapped

    def durations(self, name: str, first: int = 0) -> list[float]:
        """Durations (s) of the spans named ``name`` from index ``first`` on."""
        return [(e - s) / 1e9 for n, s, e, _ in self.spans[first:] if n == name]

    def totals(self, first: int = 0) -> tuple[dict, dict, dict]:
        """(total seconds, self seconds, count) by span name, over spans
        from index ``first`` on."""
        total: dict[str, float] = defaultdict(float)
        child: dict[int, float] = defaultdict(float)
        count: dict[str, int] = defaultdict(int)
        for name, s, e, parent in self.spans[first:]:
            total[name] += (e - s) / 1e9
            count[name] += 1
            if parent >= 0:
                child[parent] += (e - s) / 1e9
        self_s: dict[str, float] = defaultdict(float)
        for i, (name, s, e, _) in enumerate(self.spans[first:], start=first):
            self_s[name] += (e - s) / 1e9 - child.get(i, 0.0)
        return dict(total), dict(self_s), dict(count)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        names = {}
        rows = []
        for name, s, e, parent in self.spans:
            rows.append([names.setdefault(name, len(names)), s, e, parent])
        path.write_text(json.dumps({"names": list(names), "spans": rows}))


# layer span name -> name looked up in functions.udfs
LAYERS = {
    "sniff": "sniff_format",
    "html_fast": "extract_main_text",
    "pdf": "process_pdf",
    "amount": "parse_amount",
    "date": "parse_date",
}
ROW_KERNELS = ("extract_row", "parse_row")


def replay(tracer: Tracer, files: list[str]) -> tuple[dict, dict]:
    """Replay ``files`` (one Arrow batch each) through the fused UDF body.

    Returns (per-layer metrics, {url: output row}) for the golden check."""
    import pyarrow.parquet as pq

    from receipt_scanner_spark.functions import udfs

    hits = {"amount": 0, "date": 0, "pdf_err": 0}

    def hit(key, attr):
        def on_result(out):
            value = out.get(attr) if isinstance(out, dict) else getattr(out, attr)
            if value is not None:
                hits[key] += 1
        return on_result

    observers = {
        "amount": hit("amount", "match"),
        "date": hit("date", "match"),
        "pdf": hit("pdf_err", "error"),
    }
    originals = {n: getattr(udfs, n) for n in (*LAYERS.values(), *ROW_KERNELS)}
    first = len(tracer.spans)
    outputs = {}
    docs = 0
    try:
        for span_name, attr in LAYERS.items():
            setattr(udfs, attr, tracer.wrap(span_name, originals[attr],
                                            observers.get(span_name)))
        for attr in ROW_KERNELS:
            setattr(udfs, attr, tracer.wrap(attr, originals[attr]))
        body = udfs.process_udf.func
        for f in files:
            batch = pq.read_table(f, columns=["url", "html", "text"]).to_pandas()
            with tracer.span("batch"):
                out = body(batch["html"], batch["text"])
            docs += len(batch)
            for url, row in zip(batch["url"], out.itertuples(index=False)):
                outputs[url] = row
    finally:
        for attr, fn in originals.items():
            setattr(udfs, attr, fn)

    total, self_s, count = tracer.totals(first)
    per_doc = 1e6 / max(1, docs)
    layer_self = {n: self_s.get(n, 0.0) for n in LAYERS}
    udfs_self = sum(self_s.get(n, 0.0) for n in ("batch", *ROW_KERNELS))
    batch_s = total.get("batch", 0.0)
    # every span below a batch is a row kernel or a layer, so the
    # batch's time splits exactly into udfs self time + layer self times
    residual = batch_s - udfs_self - sum(layer_self.values())
    if abs(residual) > 1e-6 * max(1.0, batch_s):
        raise AssertionError(f"span self times do not add up: residual {residual} s")
    metrics = {
        "replay.docs": docs,
        "udfs.batch_us_per_doc": batch_s * per_doc,
        "udfs.self_us_per_doc": udfs_self * per_doc,
        "html_fast.docs": count.get("html_fast", 0),
        "pdf.docs": count.get("pdf", 0),
        "pdf.error_ratio": hits["pdf_err"] / max(1, count.get("pdf", 0)),
        "amount.hit_ratio": hits["amount"] / max(1, count.get("amount", 0)),
        "date.hit_ratio": hits["date"] / max(1, count.get("date", 0)),
    }
    for name in LAYERS:
        metrics[f"{name}.us_per_doc"] = layer_self[name] * per_doc
    return metrics, outputs
