"""Outside-in layer tracing for the benchmark.

While a ``Tracer`` is installed it replaces the public layer entry points
(module functions and ``TableIO`` methods) with wrappers that record a
span per call and set a Spark job group per span, so the jobs, stages and
tasks each call launches can be read back from ``statusTracker()``.
Nothing under ``librecrawl_spark/`` changes: ``uninstall()`` restores
every attribute it replaced.

Spark plans lazily, so a span's time covers the work its own actions
execute, not the work of the plans it returns: in a crawl the extraction
UDF and most of the frontier plan run inside the crawl loop's self time.
Only ``wave_bulk`` forces each layer's output at the engine's own persist
points (spans ``extract.materialize`` and ``frontier.*_materialize``), so
only there do layer times include execution.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

# (module path, attribute, span name). Classes are patched through their
# attribute so every instance created while tracing sees the wrapper.
TRACED = (
    ("librecrawl_spark.operators.frontier", "schedule_wave", "frontier.schedule_wave"),
    ("librecrawl_spark.operators.frontier", "apply_politeness", "frontier.apply_politeness"),
    ("librecrawl_spark.operators.extract", "join_fetch", "extract.join_fetch"),
    ("librecrawl_spark.operators.extract", "extract_pages", "extract.extract_pages"),
    ("librecrawl_spark.operators.extract", "resolve_redirects", "extract.resolve_redirects"),
    ("librecrawl_spark.storage.tableio", "TableIO.commit", "tableio.commit"),
    ("librecrawl_spark.storage.tableio", "TableIO.checkpoint", "tableio.checkpoint"),
    ("librecrawl_spark.storage.tableio", "TableIO.compact_small", "tableio.compact_small"),
    ("librecrawl_spark.storage.tableio", "TableIO.expire_snapshots", "tableio.expire_snapshots"),
    ("librecrawl_spark.storage.tableio", "TableIO.read", "tableio.read"),
    ("librecrawl_spark.operators.issues", "detect_all_issues", "issues.detect_all_issues"),
)

_GROUP_KEY = "spark.jobGroup.id"


def _resolve(path: str, attr: str):
    import importlib

    owner = importlib.import_module(path)
    *outer, name = attr.split(".")
    for part in outer:
        owner = getattr(owner, part)
    return owner, name


class Tracer:
    """In-memory span recorder. One span: id, name, parent, start, end
    (perf_counter seconds) plus free-form attributes (crawl id, wave)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._saved: list[tuple] = []
        self.crawl_id = 0
        self.wave = -1
        # time spent on span bookkeeping outside any span's interval
        self.bookkeeping_s = 0.0
        # call hooks: span name -> callable(span, args, kwargs, result)
        self.hooks: dict = {}

    # ------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "crawl": self.crawl_id, "wave": self.wave, **attrs,
               "start": None, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setLocalProperty(_GROUP_KEY, f"pb-{sid}")
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                _GROUP_KEY, f"pb-{self._stack[-1]}" if self._stack else None)
            if rec["parent"] is not None:
                self.bookkeeping_s += rec["start"] - t_in + time.perf_counter() - rec["end"]

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if name == "extract.extract_pages":
                tracer.wave += 1
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
            hook = tracer.hooks.get(name)
            if hook is not None:
                # bookkeeping gets its own span so no layer is charged for it
                with tracer.span("trace.hook"):
                    hook(rec, args, kwargs, out)
            return out

        return traced

    def install(self) -> None:
        for path, attr, name in TRACED:
            owner, key = _resolve(path, attr)
            orig = owner.__dict__[key]
            self._saved.append((owner, key, orig))
            setattr(owner, key, self._wrap(orig, name))

    def uninstall(self) -> None:
        while self._saved:
            owner, key, orig = self._saved.pop()
            setattr(owner, key, orig)

    def start_crawl(self) -> None:
        self.crawl_id += 1
        self.wave = -1

    # --------------------------------------------------------- analysis
    def self_times(self) -> list[float]:
        """Per span: duration minus the time its direct children cover
        (children never overlap: the calling Python thread is the only one)."""
        own = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def spark_counts(self) -> list[dict]:
        """Jobs, stages and tasks per span from the job groups. A stage
        shared by several jobs (reused shuffle output) counts once, for
        the first job that ran its tasks; skipped stages count nothing."""
        st = self.sc.statusTracker()
        counted: set = set()
        out = []
        for s in self.spans:
            jobs = sorted(st.getJobIdsForGroup(f"pb-{s['id']}"))
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else ()):
                    if sid in counted:
                        continue
                    sinfo = st.getStageInfo(sid)
                    if sinfo is None or sinfo.numCompletedTasks == 0:
                        continue
                    counted.add(sid)
                    stages += 1
                    tasks += sinfo.numCompletedTasks
            out.append({"jobs": len(jobs), "stages": stages, "tasks": tasks})
        return out

    def dump(self, path: str) -> None:
        """Spans live in memory during the run and are written once."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
