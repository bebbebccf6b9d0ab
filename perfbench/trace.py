"""Spans around the program's public functions, installed from outside.

In a traced run the benchmark replaces each function named in
``TARGETS`` with a wrapper that records a span (name, layer, start, end,
parent) in memory and sets a Spark job group on entry, so every Spark
job started inside the span can be attributed from the event log.  A
name imported into another module's namespace (``from x import f``) is
replaced there too.  Lazy calls (``extract_pages``, ``hot_hosts``,
``lineage_of``) record only their plan-building time; the execution of
the plan is charged to the span whose action ran it.
"""

from __future__ import annotations

import contextlib
import importlib
import sys
import time
import warnings
from dataclasses import dataclass, field

# (module, attribute, layer, span name); "Class.method" patches the class
TARGETS = [
    ("ocr_spark.plans.extract_job", "run_extract_job", "plans",
     "extract_job.run_extract_job"),
    ("ocr_spark.plans.extract_job", "extract_pages", "plans",
     "extract_job.extract_pages"),
    ("ocr_spark.plans.extract_job", "lineage_of", "plans",
     "extract_job.lineage_of"),
    ("ocr_spark.plans.extract_job", "metrics_of", "plans",
     "extract_job.metrics_of"),
    ("ocr_spark.plans.ingest_job", "run_ingest_job", "plans",
     "ingest_job.run_ingest_job"),
    ("ocr_spark.plans.ingest_job", "keep_latest_within_drop", "plans",
     "ingest_job.keep_latest_within_drop"),
    ("ocr_spark.plans.ingest_job", "commit_drop_results", "plans",
     "ingest_job.commit_drop_results"),
    ("ocr_spark.functions.bucketing", "hot_hosts", "plans",
     "bucketing.hot_hosts"),
    ("ocr_spark.sources.warc", "read_warc", "io", "warc.read_warc"),
    ("ocr_spark.sources.io", "VersionedTable.commit", "io", "io.commit"),
    ("ocr_spark.sources.io", "VersionedTable.merge_into", "io",
     "io.commit"),
    ("ocr_spark.sources.io", "TableIO.append", "io", "io.append"),
    ("ocr_spark.sources.io", "TableIO.overwrite_partitions", "io",
     "io.append"),
    ("ocr_spark.sources.io", "CheckpointManifest.mark_done", "io",
     "io.manifest"),
    ("ocr_spark.plans.ingest_job", "DropManifest.mark_done", "io",
     "io.manifest"),
    ("ocr_spark.plans.ingest_job", "UrlBucketIndex.update", "io",
     "io.manifest"),
    ("ocr_spark.plans.ingest_job", "UrlBucketIndex.buckets_of", "io",
     "io.url_index"),
    ("ocr_spark.plans.ingest_job", "UrlBucketIndex.partitions_for", "io",
     "io.url_index"),
    ("ocr_spark.operators.dedup", "dedup_incremental_vs_hashes", "dedup",
     "dedup.mask"),
]

PRESPREAD_MSG = "extract_pages: input scan has only"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float            # time.time(), the clock the event log uses
    end: float = 0.0
    prespread: int = 0
    children: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder; ``install`` patches the targets, ``uninstall``
    puts the originals back."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def group_id(self, span: Span) -> str:
        return f"bench-span-{span.id}"

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer,
                 parent.id if parent else None, time.time())
        self.spans.append(s)
        if parent:
            parent.children.append(s.id)
        self._stack.append(s)
        self.sc.setJobGroup(self.group_id(s), name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(self.group_id(parent), parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        def wrapper(*a, **kw):
            with tracer.span(name, layer) as s:
                if name != "extract_job.extract_pages":
                    return fn(*a, **kw)
                with warnings.catch_warnings(record=True) as caught:
                    warnings.simplefilter("always")
                    out = fn(*a, **kw)
                s.prespread = sum(1 for w in caught
                                  if str(w.message).startswith(
                                      PRESPREAD_MSG))
                return out
        wrapper.__wrapped__ = fn
        return wrapper

    def install(self) -> None:
        for mod_name, attr, layer, name in TARGETS:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self._set(cls, meth, self._wrap(orig, name, layer), orig)
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, name, layer)
            # every module that imported the name holds its own binding
            for m in list(sys.modules.values()):
                if (getattr(m, "__name__", "").startswith("ocr_spark")
                        and getattr(m, attr, None) is orig):
                    self._set(m, attr, wrapped, orig)

    def _set(self, owner, attr: str, new, orig) -> None:
        setattr(owner, attr, new)
        self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()
