"""The benchmark's three workloads: inputs, the timed unit, the oracle check.

Each workload makes its inputs from the seed alone (cached on disk per
seed, because synthesis and the single-node oracle are the slowest part
of a cold run), drives a public entry point of the program one call at a
time, and afterwards reads every output back and compares it with the
oracle, ``ocr_spark.core.extract`` run in this process.

* ``extract_small_pages``: ``run_extract_job`` over ``synth.make_pages``
  written with ``write_pages_bucketed`` (the production layout).
* ``extract_large_pages``: the same job over pages of 50-200 KB built
  from the synth templates' boilerplate and article pieces.
* ``ingest_recrawl``: ``run_ingest_job(recrawl="merge_latest")`` once
  per WARC drop; each timed drop mixes new urls, byte-identical
  recrawls and changed recaptures of earlier urls.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_spark import synth
from ocr_spark.core.extract import extract

N_BUCKETS = 32          # run_extract_job's default, also the pages layout
# two groups, so the per-group commit path runs more than once, while one
# job still fits the run budget on 4 cores (the default 8 makes 4 groups)
GROUP_SIZE = 16
ORACLE_PROCS = 4
WARC_SEGMENTS = 4       # files per drop: read_warc parallelises per file
CACHE_VERSION = "3"     # bump when the generators or sizes below change


def golden_of(pages: list[dict]) -> dict[str, bytes]:
    """url -> oracle text bytes: ``synth.make_golden`` over interleaved
    slices of the pages in ORACLE_PROCS fresh processes."""
    import multiprocessing
    slices = [pages[k::ORACLE_PROCS] for k in range(ORACLE_PROCS)]
    with multiprocessing.get_context("spawn").Pool(ORACLE_PROCS) as pool:
        parts = pool.map(synth.make_golden, slices)
    return {g["url"]: g["expected_text"] for part in parts for g in part}


def _write_pages(path: str, pages: list[dict]) -> None:
    pq.write_table(pa.Table.from_pylist(pages, schema=synth._PAGES_SCHEMA),
                   path, row_group_size=512)


def _write_golden(path: str, golden: dict[str, bytes]) -> None:
    pq.write_table(pa.table({"url": list(golden),
                             "expected_text": list(golden.values())},
                            schema=pa.schema([("url", pa.string()),
                                              ("expected_text",
                                               pa.binary())])), path)


def _read_golden(path: str) -> dict[str, bytes]:
    t = pq.read_table(path).to_pydict()
    return dict(zip(t["url"], t["expected_text"]))


def dir_bytes(root: str) -> tuple[int, int]:
    """(files, bytes) under ``root``."""
    n = size = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


def mismatches(got: dict[str, bytes], want: dict[str, bytes]) -> int:
    """urls missing, extra, or with different text bytes."""
    return sum(1 for u in set(got) | set(want) if got.get(u) != want.get(u))


# ------------------------------------------------------------ large pages

def _body(html: bytes) -> str:
    s = html.decode("utf-8", "replace")
    lo = s.find("<body>")
    hi = s.rfind("</body>")
    return s[lo + len("<body>"):hi if hi >= 0 else len(s)]


def make_large_pages(n: int, seed: int) -> list[dict]:
    """n pages of 50-200 KB: head script/style, a nav bar, then sections
    cut from the synth templates (link lists, tables, script-heavy
    blocks, articles) until the page reaches its drawn size."""
    rng = random.Random(seed)
    pieces = (synth._tmpl_linkfarm, synth._tmpl_tables,
              synth._tmpl_script_heavy, synth._tmpl_article,
              synth._tmpl_article)
    pages = []
    for i in range(n):
        target = rng.randint(50, 200) * 1024
        nav = " ".join(f'<a href="/{w}">{w}</a>' for w in synth.NAV_WORDS)
        parts = [f"<!DOCTYPE html><html><head><meta charset=utf-8>"
                 f"<title>{synth._sentence(rng, 5)}</title>"
                 f"<script>var cfg = {{k: '<p>no</p>'}};</script>"
                 f"<style>nav a {{ color: red }}</style></head><body>"
                 f"<nav>{nav}</nav>"]
        size = len(parts[0])
        while size < target:
            sec = f"<section>{_body(rng.choice(pieces)(rng))}</section>\n"
            parts.append(sec)
            size += len(sec)
        parts.append(f"<footer>{synth._sentence(rng, 6)}</footer>"
                     f"</body></html>")
        # one host per page: with a few hundred pages, zipf hosts would
        # put a seed-dependent share of the bytes in one bucket and one
        # task (the small-pages workload keeps the zipf skew)
        pages.append({"url": f"https://long{i:05d}.example.org/page",
                      "warc_ts": synth.EPOCH + synth.TS_STEP * i,
                      "html": "".join(parts).encode("utf-8"),
                      "text": synth._sentence(rng, 8),
                      "lang": rng.choice(synth.LANGS)})
    return pages


# --------------------------------------------------------------- workloads

@dataclass
class Unit:
    """One timed call: its latency, the input documents it covered, and
    the output directory it wrote."""
    seconds: float
    docs: int
    extracted_docs: int
    extracted_bytes: int
    out: str = ""


@dataclass
class Workload:
    """Inputs, set-up pass, timed unit and oracle check of one workload.

    ``synthesize()`` makes (or reuses) the seed's inputs without Spark;
    ``warmup(spark)`` is the set-up's warm-up pass; ``prepare(spark)``
    does untimed work that needs the session; ``unit(spark, i)`` is one
    timed call; ``check(spark)`` returns (docs checked, docs mismatched)
    over every output; ``pages()`` are the pages the core layer is timed
    over."""

    seed: int
    root: str               # the run's fresh work directory
    cache: str              # the seed's cached inputs
    scale: float = 1.0      # input size factor
    units_done: list = field(default_factory=list)
    dedups = False          # whether the workload runs incremental dedup

    def sized(self, n: int, least: int = 1) -> int:
        return max(least, round(n * self.scale))

    def docs_written(self, units: list[Unit]) -> int:
        """Input documents behind what ``output_dirs(units)`` holds."""
        return sum(u.docs for u in units)

    def prepare(self, spark) -> None:
        pass

    def _cached(self, build) -> None:
        """Run ``build(tmpdir)`` once per seed; a marker makes it atomic."""
        if os.path.exists(os.path.join(self.cache, "COMPLETE")):
            return
        tmp = self.cache + f".tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        with open(os.path.join(tmp, "COMPLETE"), "w") as f:
            f.write(CACHE_VERSION)
        shutil.rmtree(self.cache, ignore_errors=True)
        os.replace(tmp, self.cache)


class ExtractWorkload(Workload):
    """``run_extract_job`` over a bucket-partitioned pages table."""

    n_pages = 0
    min_pages = 1
    warm_pages = 48

    def make(self, n: int, seed: int) -> list[dict]:
        raise NotImplementedError

    def synthesize(self) -> None:
        def build(d):
            pages = self.make(self.n_docs(), self.seed)
            _write_pages(os.path.join(d, "pages.parquet"), pages)
            _write_golden(os.path.join(d, "golden.parquet"),
                          golden_of(pages))
            warm = self.make(self.warm_pages, self.seed + 1_000_003)
            _write_pages(os.path.join(d, "warm.parquet"), warm)
        self._cached(build)

    def n_docs(self) -> int:
        return self.sized(self.n_pages, self.min_pages)

    def pages(self) -> list[dict]:
        return pq.read_table(
            os.path.join(self.cache, "pages.parquet")).to_pylist()

    def warmup(self, spark) -> None:
        """Lay out a tiny pages table and run the job over it."""
        from ocr_spark.plans.extract_job import run_extract_job
        from ocr_spark.sources.io import write_pages_bucketed
        d = os.path.join(self.root, "warm")
        write_pages_bucketed(spark.read.parquet(
            os.path.join(self.cache, "warm.parquet")),
            os.path.join(d, "pages"), N_BUCKETS)
        st = run_extract_job(spark, os.path.join(d, "pages"),
                             os.path.join(d, "out"), n_buckets=N_BUCKETS,
                             group_size=GROUP_SIZE)
        if not st["completed"]:
            raise RuntimeError(f"warm-up job did not complete: {st}")

    def prepare(self, spark) -> None:
        """The pages table in the production layout, written once per
        seed (a Spark job, so it waits for the session)."""
        from ocr_spark.sources.io import write_pages_bucketed
        self.input = os.path.join(self.cache, "pages.bucketed")
        if not os.path.exists(os.path.join(self.input, "_N_BUCKETS")):
            shutil.rmtree(self.input, ignore_errors=True)
            write_pages_bucketed(spark.read.parquet(
                os.path.join(self.cache, "pages.parquet")), self.input,
                N_BUCKETS)
        self.input_bytes = sum(
            len(p["html"] or b"") for p in pq.read_table(
                os.path.join(self.cache, "pages.parquet"),
                columns=["html"]).to_pylist())

    def out_dir(self, i: int) -> str:
        return os.path.join(self.root, f"out-{i}")

    def unit(self, spark, i: int) -> Unit:
        from ocr_spark.plans.extract_job import run_extract_job
        t0 = time.perf_counter()
        st = run_extract_job(spark, self.input, self.out_dir(i),
                             n_buckets=N_BUCKETS, group_size=GROUP_SIZE)
        dt = time.perf_counter() - t0
        if not st["completed"]:
            raise RuntimeError(f"extract job did not complete: {st}")
        n = self.n_docs()
        u = Unit(dt, n, n, self.input_bytes, self.out_dir(i))
        self.units_done.append(u)
        return u

    def output_dirs(self, units: list[Unit]) -> list[str]:
        """Where ``units`` wrote: one fresh directory per job."""
        return [u.out for u in units]

    def check(self, spark) -> tuple[int, int]:
        """Every timed job's results, read back with pyarrow."""
        want = _read_golden(os.path.join(self.cache, "golden.parquet"))
        bad = 0
        for d in self.output_dirs(self.units_done):
            t = pq.read_table(os.path.join(d, "results"),
                              columns=["url", "extracted_text"]).to_pydict()
            got = {u: (x or "").encode("utf-8")
                   for u, x in zip(t["url"], t["extracted_text"])}
            if len(t["url"]) != len(got):
                bad += len(t["url"]) - len(got)   # duplicated urls
            bad += mismatches(got, want)
        return len(want) * len(self.units_done), bad


class SmallPages(ExtractWorkload):
    n_pages = 6000
    min_pages = 100     # make_pages adds its huge and degenerate rows

    def make(self, n: int, seed: int) -> list[dict]:
        return synth.make_pages(n, seed)


class LargePages(ExtractWorkload):
    n_pages = 160
    warm_pages = 8

    def make(self, n: int, seed: int) -> list[dict]:
        return make_large_pages(n, seed)


class IngestRecrawl(Workload):
    """``run_ingest_job(recrawl="merge_latest")`` once per WARC drop.

    The set-up's warm-up pass lands a base drop of new urls in the
    table the timed drops then merge into (a separate throwaway warm-up
    drop would cost another ~10 s of cold JVM per run).  Each timed drop
    carries half new urls, a quarter byte-identical recrawls (dedup must
    drop them before extraction) and a quarter changed recaptures (the
    merge must replace the old row).  Every capture's bytes are unique,
    so the oracle is simply each url's newest capture."""

    base_records = 400
    drop_records = 400
    max_drops = 8
    dedups = True

    def docs_written(self, units: list[Unit]) -> int:
        """The table holds the base drop and every drop run so far."""
        return self.sized(self.base_records, 8) + sum(
            u.docs for u in self.units_done)

    def synthesize(self) -> None:
        def build(d):
            rng = random.Random(self.seed)
            pool = iter(self._bodies(self.seed))
            current: dict[str, bytes] = {}     # url -> newest bytes
            drops = []

            def new_url(k):
                host = rng.choices(synth.HOSTS,
                                   weights=synth._HOST_WEIGHTS)[0]
                return f"https://{host}/item-{k:06d}"

            k = 0
            base = []
            for _ in range(self.sized(self.base_records, 8)):
                u = new_url(k)
                k += 1
                base.append((u, next(pool)))
            drops.append(("d00-base", base, len(base),
                          sum(len(b) for _, b in base)))
            for u, b in base:
                current[u] = b
            for di in range(1, self.max_drops + 1):
                recs = []
                size = self.sized(self.drop_records, 8)
                n_new = size // 2
                n_same = size // 4
                n_changed = size - n_new - n_same
                old = rng.sample(sorted(current), n_same + n_changed)
                for u in old[:n_same]:
                    recs.append((u, current[u]))
                for u in old[n_same:]:
                    recs.append((u, next(pool)))
                for _ in range(n_new):
                    recs.append((new_url(k), next(pool)))
                    k += 1
                rng.shuffle(recs)
                fresh = [b for u, b in recs if current.get(u) != b]
                for u, b in recs:
                    current[u] = b
                drops.append((f"d{di:02d}", recs, len(fresh),
                              sum(len(b) for b in fresh)))
            for name, recs, _, _ in drops:
                self._write_drop(os.path.join(d, "drops", name), recs,
                                 day=int(name[1:3]))
            # the oracle after each drop: url -> text of newest capture
            seen: dict[str, bytes] = {}
            texts: dict[bytes, bytes] = {}
            oracle = []
            for name, recs, _, _ in drops:
                for u, b in recs:
                    seen[u] = b
                    if b not in texts:
                        texts[b] = extract(b).text.encode("utf-8")
                oracle.append({u: texts[b] for u, b in seen.items()})
            for i, o in enumerate(oracle):
                _write_golden(os.path.join(d, f"golden-{i:02d}.parquet"), o)
            with open(os.path.join(d, "drops.json"), "w") as f:
                json.dump([{"name": n, "records": len(recs),
                            "extracted": e, "extracted_bytes": eb}
                           for n, recs, e, eb in drops], f)
        self._cached(build)
        with open(os.path.join(self.cache, "drops.json")) as f:
            self.drops = json.load(f)

    def _bodies(self, seed: int, n: int | None = None) -> list[bytes]:
        """Distinct page bodies from ``synth.make_pages`` (its fixed
        huge and degenerate rows are skipped: identical bytes under two
        urls would be deduplicated across urls by design)."""
        n = n or (self.sized(self.base_records, 8) + self.max_drops
                  * self.sized(self.drop_records, 8))
        out, seen = [], set()
        rows = synth.make_pages(n + n // 4 + 8, seed)
        for p in rows[7:]:
            h = hashlib.md5(p["html"]).digest()
            if p["html"].strip() and h not in seen:
                seen.add(h)
                out.append(p["html"])
        if len(out) < n:
            raise RuntimeError("not enough distinct page bodies")
        return out[:n]

    @staticmethod
    def _write_drop(d: str, recs: list[tuple[str, bytes]], day: int):
        from ocr_spark.sources.warc import build_warc_bytes
        os.makedirs(d, exist_ok=True)
        iso = f"2026-02-{day + 1:02d}T00:00:00Z"
        for s in range(WARC_SEGMENTS):
            with open(os.path.join(d, f"seg-{s}.warc.gz"), "wb") as f:
                f.write(build_warc_bytes(
                    [(u, iso, b) for u, b in recs[s::WARC_SEGMENTS]]))

    def pages(self) -> list[dict]:
        """Every capture the timed drops extract: the new and changed
        ones; byte-identical recrawls never reach the extractor."""
        from ocr_spark.sources.warc import (parse_warc_records,
                                            split_gzip_members)
        out, seen = [], set()
        for k, dr in enumerate(self.drops[:1 + len(self.units_done)]):
            d = os.path.join(self.cache, "drops", dr["name"])
            for f in sorted(os.listdir(d)):
                with open(os.path.join(d, f), "rb") as fh:
                    for m in split_gzip_members(fh.read()):
                        for url, _, body in parse_warc_records(m):
                            h = hashlib.md5(body).digest()
                            if k and h not in seen:
                                out.append({"url": url, "html": body,
                                            "lang": None})
                            seen.add(h)
        return out

    def _land(self, src: str, landing: str) -> None:
        """A drop arrives: hard-link its files into the landing dir."""
        dst = os.path.join(landing, os.path.basename(src))
        os.makedirs(dst)
        for f in os.listdir(src):
            os.link(os.path.join(src, f), os.path.join(dst, f))

    def _ingest(self, spark, landing: str, out: str) -> None:
        from ocr_spark.plans.ingest_job import run_ingest_job
        st = run_ingest_job(spark, landing, out, recrawl="merge_latest")
        if not st["completed"] or st["drops_run"] != 1:
            raise RuntimeError(f"ingest drop did not complete: {st}")

    def warmup(self, spark) -> None:
        """The base drop: new urls only, into the run's fresh table."""
        self.landing = os.path.join(self.root, "landing")
        self.out = os.path.join(self.root, "out")
        os.makedirs(self.landing)
        self._land(os.path.join(self.cache, "drops", "d00-base"),
                   self.landing)
        self._ingest(spark, self.landing, self.out)

    def unit(self, spark, i: int) -> Unit:
        from ocr_spark.sources.io import VersionedTable
        if i + 1 >= len(self.drops):
            raise ValueError(f"only {len(self.drops) - 1} timed drops "
                             f"are synthesized")
        dr = self.drops[i + 1]
        self._land(os.path.join(self.cache, "drops", dr["name"]),
                   self.landing)
        vt = VersionedTable(spark, os.path.join(self.out, "results"))
        before = len(vt.snapshots())
        t0 = time.perf_counter()
        self._ingest(spark, self.landing, self.out)
        # drop-to-visible: the drop's snapshot is in the table's log
        if len(VersionedTable(spark, os.path.join(
                self.out, "results")).snapshots()) != before + 1:
            raise RuntimeError(f"drop {dr['name']} committed no snapshot")
        dt = time.perf_counter() - t0
        u = Unit(dt, dr["records"], dr["extracted"], dr["extracted_bytes"],
                 self.out)
        self.units_done.append(u)
        return u

    def output_dirs(self, units: list[Unit]) -> list[str]:
        """The one table every drop merges into."""
        return [self.out]

    def check(self, spark) -> tuple[int, int]:
        """The latest view equals the oracle after the last timed drop,
        with one row per url."""
        from pyspark.sql import functions as F

        from ocr_spark.sources.io import VersionedTable
        want = _read_golden(os.path.join(
            self.cache, f"golden-{len(self.units_done):02d}.parquet"))
        rows = (VersionedTable(spark, os.path.join(self.out, "results"))
                .read().select("url", F.encode("extracted_text", "utf-8")
                               .alias("b")).collect())
        got = {r["url"]: bytes(r["b"] or b"") for r in rows}
        return len(want), mismatches(got, want) + (len(rows) - len(got))


WORKLOADS = {
    "extract_small_pages": SmallPages,
    "extract_large_pages": LargePages,
    "ingest_recrawl": IngestRecrawl,
}
