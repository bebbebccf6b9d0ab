"""Per-layer numbers of a traced run and the ledger that adds them up.

``core`` and ``udf`` are timed in this process over (a byte-bounded,
evenly strided sample of) the workload's own pages, in thread CPU
seconds.  ``spark`` comes from the event log.  ``plans``, ``io`` and
``dedup`` are span self times: a span's wall time minus its child spans
and minus the Spark jobs that ran in its own job group.

The ledger accounts for the wall time of the traced units:

    wall = plans + io + dedup + spark_jobs + unattributed

and splits the Spark-job wall time by slot time: the in-process core and
UDF costs, scaled to the bytes the window extracted and spread over the
slots, are charged to ``core`` and ``udf``; the rest of the job wall time
(JVM work, Python IPC, scheduling gaps, stragglers) stays ``spark``.
``unattributed`` is the wall time inside the window that no span or job
covers (the benchmark's own loop: landing files, checking visibility).
"""

from __future__ import annotations

import math
import time

import pandas as pd
import pyarrow as pa

UDF_BATCH_ROWS = 256        # ocr_spark.session.ARROW_BATCH_ROWS
SAMPLE_BYTES = 12 << 20


def sample(pages: list[dict]) -> tuple[list[dict], float]:
    """An evenly strided sample of at most ~SAMPLE_BYTES, and the factor
    that scales its byte count back to the whole set."""
    total = sum(len(p["html"] or b"") for p in pages) or 1
    stride = max(1, math.ceil(total / SAMPLE_BYTES))
    s = pages[::stride]
    got = sum(len(p["html"] or b"") for p in s) or 1
    return s, total / got


def time_core(pages: list[dict]) -> dict:
    """CPU seconds per core stage over ``pages``, stage by stage, and of
    ``extract`` itself (the check that the stages add up)."""
    from ocr_spark.core import pdf
    from ocr_spark.core.assemble import assemble
    from ocr_spark.core.blocks import classify_blocks, segment_html
    from ocr_spark.core.encoding import decode_bytes
    from ocr_spark.core.extract import extract

    clock = time.thread_time
    t = dict.fromkeys(("decode_s", "segment_s", "classify_s", "assemble_s",
                       "pdf_s", "extract_s"), 0.0)
    for p in pages:
        data = p["html"]
        if not data:
            continue
        if pdf.is_pdf(data):
            a = clock()
            pdf.extract_pdf_text(data)
            t["pdf_s"] += clock() - a
            continue
        a = clock()
        decoded, _ = decode_bytes(bytes(data))
        b = clock()
        t["decode_s"] += b - a
        if not decoded.strip():
            continue
        blocks, _ = segment_html(decoded)
        c = clock()
        blocks = classify_blocks(blocks)
        d = clock()
        assemble(blocks)
        e = clock()
        t["segment_s"] += c - b
        t["classify_s"] += d - c
        t["assemble_s"] += e - d
    for p in pages:
        a = clock()
        extract(p["html"], p["lang"], keep_blocks=True)
        t["extract_s"] += clock() - a
    t["docs"] = len(pages)
    t["bytes"] = sum(len(p["html"] or b"") for p in pages)
    return t


def time_udf(pages: list[dict]) -> dict:
    """The UDF body over 256-row batches, minus the core it calls (timed
    on the same batch just before), and the conversion of its output to
    the Arrow result type."""
    from pyspark.sql.pandas.types import to_arrow_type

    from ocr_spark.core.extract import extract
    from ocr_spark.plans.extract_job import EXTRACT_RESULT_TYPE, extract_udf

    struct = to_arrow_type(EXTRACT_RESULT_TYPE)
    clock = time.thread_time
    body = to_arrow = 0.0
    spans = 0
    for i in range(0, len(pages), UDF_BATCH_ROWS):
        batch = pages[i:i + UDF_BATCH_ROWS]
        html = pd.Series([p["html"] for p in batch], dtype=object)
        lang = pd.Series([p["lang"] for p in batch], dtype=object)
        a = clock()
        for p in batch:
            extract(p["html"], p["lang"], keep_blocks=True)
        b = clock()
        df = extract_udf.func(html, lang)
        c = clock()
        pa.StructArray.from_arrays(
            [pa.Array.from_pandas(df[f.name], type=f.type)
             for f in struct], fields=list(struct))
        to_arrow += clock() - c
        body += (c - b) - (b - a)
        spans += int(df["blocks"].map(len).sum())
    return {"body_s": body, "to_arrow_s": to_arrow, "span_records": spans}


def span_self_times(spans, log, group_of) -> dict[int, tuple[float, float]]:
    """span id -> (self seconds, seconds of Spark jobs in its own group)."""
    from perfbench.eventlog import union_s

    by_group: dict[str, list] = {}
    for j in log.jobs.values():
        if j.group is not None and j.end_ms:
            by_group.setdefault(j.group, []).append(j)
    out = {}
    for s in spans:
        iv = [(max(j.submit_ms / 1e3, s.start), min(j.end_ms / 1e3, s.end))
              for j in by_group.get(group_of(s), ())]
        jobs_s = union_s([(a, b) for a, b in iv if b > a])
        kids = sum(spans[c].dur for c in s.children)
        out[s.id] = (s.dur - kids - jobs_s, jobs_s)
    return out


def ledger(spans, log, group_of, wall_s: float, slots: int,
           core: dict, udf: dict, extracted_bytes: int) -> dict:
    """Wall-time ledger of the traced window (module docstring)."""
    st = span_self_times(spans, log, group_of)
    by_layer = {"plans": 0.0, "io": 0.0, "dedup": 0.0}
    jobs_s = 0.0
    for s in spans:
        self_s, j = st[s.id]
        jobs_s += j
        if s.layer in by_layer:
            by_layer[s.layer] += self_s
    scale = extracted_bytes / core["bytes"] if core["bytes"] else 0.0
    core_s = core["extract_s"] * scale / slots
    udf_s = (udf["body_s"] + udf["to_arrow_s"]) * scale / slots
    parts = {**by_layer, "core": core_s, "udf": udf_s,
             "spark": jobs_s - core_s - udf_s}
    out = {f"ledger.{k}_s": v for k, v in parts.items()}
    out["trace.wall_s"] = wall_s
    out["trace.unattributed_frac"] = (
        (wall_s - sum(parts.values())) / wall_s if wall_s else 0.0)
    return out


def span_metrics(spans, log, group_of) -> dict:
    """The plans/io/dedup metrics named after the program's modules."""
    st = span_self_times(spans, log, group_of)

    def self_of(*names):
        return sum(st[s.id][0] for s in spans if s.name in names)

    def prefixed(prefix):
        return sum(st[s.id][0] for s in spans if s.name.startswith(prefix))

    return {
        "extract_job.self_s": prefixed("extract_job."),
        "ingest_job.self_s": prefixed("ingest_job."),
        "bucketing.hot_hosts_s": self_of("bucketing.hot_hosts"),
        "extract_job.prespread": sum(s.prespread for s in spans),
        "io.commit_s": self_of("io.commit"),
        "io.commits": sum(1 for s in spans if s.name == "io.commit" and (
            s.parent is None or spans[s.parent].name != "io.commit")),
        "io.append_s": self_of("io.append"),
        "io.manifest_s": self_of("io.manifest"),
        "dedup.mask_s": sum(s.dur for s in spans if s.name == "dedup.mask"),
    }


def group_table(spans, log, group_of) -> list[tuple]:
    """(span name, calls, wall s, self s, job s, jobs, tasks) per name:
    the per-job-group view printed to stderr."""
    st = span_self_times(spans, log, group_of)
    jobs_by_group: dict[str, set] = {}
    for j in log.jobs.values():
        jobs_by_group.setdefault(j.group, set()).add(j.id)
    tasks_by_job: dict[int, int] = {}
    for t in log.tasks:
        tasks_by_job[t.job] = tasks_by_job.get(t.job, 0) + 1
    rows: dict[str, list] = {}
    for s in spans:
        r = rows.setdefault(s.name, [0, 0.0, 0.0, 0.0, 0, 0])
        jobs = jobs_by_group.get(group_of(s), set())
        r[0] += 1
        r[1] += s.dur
        r[2] += st[s.id][0]
        r[3] += st[s.id][1]
        r[4] += len(jobs)
        r[5] += sum(tasks_by_job.get(j, 0) for j in jobs)
    return sorted(((k, *v) for k, v in rows.items()),
                  key=lambda r: -r[2])
