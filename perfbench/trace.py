"""Spans around the calls into each layer of the program.

The program carries no tracing of its own, so a traced run replaces each
layer's public functions, at the module or class attribute their callers
resolve, with a wrapper that records a span: name, start, end, parent span
and op id. Spans stay in memory and are written out when the run ends.

A span's layer is the first dotted component of its name (``engine.sql``
belongs to ``engine``). Self time is a span's duration minus the time its
direct children cover; summed per layer it says where an op's time went.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

PKG = "datafusion_distributed_experiment_spark"

# (module[:class], attribute, span name) — every public entry point of a
# layer that a workload reaches, wrapped where its callers look it up.
LAYER_FUNCTIONS = (
    (f"{PKG}.session", "build_session", "session.build_session"),
    (f"{PKG}.engine:Engine", "register_parquet", "engine.register_parquet"),
    (f"{PKG}.engine:Engine", "sql", "engine.sql"),
    (f"{PKG}.engine:Engine", "sql_script", "engine.sql_script"),
    (f"{PKG}.engine:Engine", "overwrite_partitions", "engine.overwrite_partitions"),
    (f"{PKG}.plans", "stage_summary", "plans.stage_summary"),
    (f"{PKG}.sources", "read_parquet_table", "sources.read_parquet_table"),
    (f"{PKG}.sources.events", "probe_ts_type", "sources.probe_ts_type"),
    (f"{PKG}.sources", "write_parquet", "sources.write_parquet"),
    (f"{PKG}.sources", "overwrite_partitions", "sources.overwrite_partitions"),
    (f"{PKG}.sources.tables", "drop_partition_dirs", "sources.drop_partition_dirs"),
    (f"{PKG}.operators.text", "quality_score", "operators.text.quality_score"),
    (f"{PKG}.operators.dedup", "dedup_exact", "operators.dedup.dedup_exact"),
    (f"{PKG}.operators.dedup", "minhash_dedup_pairs", "operators.dedup.minhash_dedup_pairs"),
    (f"{PKG}.operators.curation", "chunk_documents", "operators.curation.chunk_documents"),
    (f"{PKG}.operators.pipeline", "corpus_pipeline", "operators.pipeline.corpus_pipeline"),
    (f"{PKG}.operators.similarity", "embedding_topk", "operators.similarity.embedding_topk"),
    (f"{PKG}.streaming.events", "read_events_stream", "streaming.read_events_stream"),
    (f"{PKG}.streaming.events", "windowed_counts", "streaming.windowed_counts"),
    (f"{PKG}.streaming.events", "run_to_completion", "streaming.run_to_completion"),
)

PLAN_COUNTS = ("exchanges", "broadcasts", "sorts", "aggregates", "scans")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root
    op: int


class Tracer:
    """Records spans while ``enabled``; a disabled tracer costs one
    attribute test per wrapped call."""

    def __init__(self) -> None:
        self.enabled = False
        self.op = -1
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        i = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, self._stack[-1] if self._stack else -1, self.op))
        self._stack.append(i)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[i].end = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0.0) + value

    def plan(self, df):
        """The plans layer: ``stage_summary`` before the collect forces
        optimisation and the physical plan; its operator counts are kept."""
        if self.enabled:
            from datafusion_distributed_experiment_spark import plans

            for k, v in plans.stage_summary(df).items():
                self.count(f"plans.{k}", v)
        return df

    def install(self) -> None:
        for target, attr, name in LAYER_FUNCTIONS:
            mod, _, cls = target.partition(":")
            owner = importlib.import_module(mod)
            if cls:
                owner = getattr(owner, cls)
            original = getattr(owner, attr)
            setattr(owner, attr, self._wrap(original, name))
            self._patched.append((owner, attr, original))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def self_ms(self) -> dict[str, float]:
        """Self time per layer, in ms, over the spans of ops (set-up spans,
        recorded before the first op, are left out)."""
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent >= 0:
                covered[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s, c in zip(self.spans, covered):
            if s.op < 0:
                continue
            layer = s.name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s.end - s.start - c) * 1e3
        return out

    def mean_ms(self, *names: str) -> float:
        """Mean duration in ms of the spans with any of ``names`` (0 if none)."""
        d = [(s.end - s.start) * 1e3 for s in self.spans if s.name in names]
        return sum(d) / len(d) if d else 0.0

    def calls(self, name: str) -> int:
        return sum(s.name == name for s in self.spans)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
