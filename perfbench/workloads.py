"""The benchmark workloads: inputs on disk, one timed unit, output checks.

A *unit* is one complete call of a public entry point, from inputs on
disk to a complete, readable result on disk:

* ``crawl_extract``: ``scheduler.crawl`` for ``max_rounds`` rounds, then
  per jd category ``collector.fetch_join`` →
  ``collector.extract_fields(examples.jd.jd_fields)`` → ``sinks.write_orc``
  over the detail pages the crawl fetched;
* ``crawl_stream``: ``streaming.stream_crawl`` until the frontier drains.

Checks run outside every timed region. They compare each unit's output
with the pure-Python oracles of the repository.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

import gen


@dataclass
class Unit:
    run_s: float
    items: int = 0
    steps: list[float] = field(default_factory=list)
    disk_bytes: int = 0
    t0_ms: float = 0.0
    t1_ms: float = 0.0
    #: end time (ms) of the seed phase (-1) and of each round, in order
    round_ends_ms: list[float] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def round_of(self, ms: float) -> int:
        for r, end in enumerate(self.round_ends_ms):
            if ms <= end:
                return r - 1
        return len(self.round_ends_ms) - 1


def dir_bytes(path: str) -> int:
    """Bytes on disk under ``path``, hidden files included."""
    return sum(
        os.path.getsize(os.path.join(root, n)) for root, _dirs, names in os.walk(path) for n in names
    )


def _write_table(path: str, columns: dict) -> str:
    pq.write_table(pa.table(columns), path)
    return path


def _write_crawl_inputs(inputs: gen.CrawlInputs, d: str) -> dict[str, str]:
    os.makedirs(d, exist_ok=True)
    return {
        "pages": _write_table(
            os.path.join(d, "pages.parquet"),
            {"url": [u for u, _ in inputs.pages], "html": pa.array([h for _, h in inputs.pages], pa.binary())},
        ),
        "seeds": _write_table(
            os.path.join(d, "seeds.parquet"),
            {
                "url": [s[0] for s in inputs.seeds],
                "priority": pa.array([s[1] for s in inputs.seeds], pa.int32()),
                "seq": pa.array([s[2] for s in inputs.seeds], pa.int64()),
            },
        ),
        "robots": _write_table(
            os.path.join(d, "robots.parquet"),
            {
                "host": [h for h, _ in inputs.robots],
                "disallow_prefixes": pa.array([p for _, p in inputs.robots], pa.list_(pa.string())),
            },
        ),
        "politeness": _write_table(
            os.path.join(d, "politeness.parquet"),
            {
                "host": [h for h, _ in inputs.politeness],
                "max_fetches_per_round": pa.array([b for _, b in inputs.politeness], pa.int32()),
            },
        ),
    }


def _round_ends_ms(ckpt: str, rounds: int) -> list[float]:
    """Completion time of the seed phase and of each round: the newest file
    the round wrote under ``round=N/``."""
    ends = []
    for r in range(-1, rounds):
        newest = 0.0
        for root, _dirs, names in os.walk(os.path.join(ckpt, f"round={r}")):
            for n in names:
                newest = max(newest, os.path.getmtime(os.path.join(root, n)))
        ends.append(newest * 1000.0)
    return ends


class Workload:
    name = ""
    kind = ""
    #: size knobs per scale; "tiny" is the warm-up and test scale
    SIZES: dict[str, dict] = {}

    def __init__(self, scale: str):
        self.scale = scale
        self.size = self.SIZES[scale]
        self._oracle = None
        self._batch_times = None

    def generate(self, seed: int):
        raise NotImplementedError

    def load(self, spark, inputs, d: str) -> dict:
        raise NotImplementedError

    def run_unit(self, spark, handles: dict, unit_dir: str) -> Unit:
        raise NotImplementedError

    def check(self, spark, unit: Unit, inputs) -> list[str]:
        raise NotImplementedError

    def describe(self, inputs) -> dict:
        return {}

    def warm(self, spark, handles: dict) -> None:
        """Start the Python workers (one canonicalization over the seeds)."""
        from pyspark.sql import functions as F

        from crawler_spark.frontier.canon import canon_expr

        handles["seeds"].select(canon_expr(F.col("url")).alias("u")).agg(F.count("u")).collect()


# --- crawl_extract ------------------------------------------------------------


def schedule_problems(got: list[tuple], want: list[tuple], limit: int = 5) -> list[str]:
    """Differences between two schedules of ``(round, priority, seq, url,
    fetched)`` rows, both in (round, priority, seq) order."""
    if got == want:
        return []
    out = [f"schedule has {len(got)} rows, oracle {len(want)}"]
    gs, ws = set(got), set(want)
    for row in sorted(ws - gs)[:limit]:
        out.append(f"missing {row}")
    for row in sorted(gs - ws)[:limit]:
        out.append(f"unexpected {row}")
    if gs == ws:
        out.append("same rows in a different order")
    return out


def oracle_schedule(result) -> list[tuple]:
    rows = [(e.round, e.priority, e.seq, e.url, e.fetched) for e in result.schedule]
    return sorted(rows, key=lambda t: (t[0], t[1], t[2]))


class CrawlExtract(Workload):
    """``scheduler.crawl`` over a wide Zipf corpus with jd families, then the
    jd collector over the detail pages the crawl fetched, one ORC table per
    category. (``sinks.write_csv`` drops leading/trailing whitespace of
    values, so its output cannot pass the exact ``oracle_row`` check; see
    README.md.)"""

    name = "crawl_extract"
    kind = "crawl"
    SIZES = {
        "full": dict(n_hosts=1200, base_pages=16, head_pages=250, seeds_per_host=8, jd_details_per_category=300, rounds=1),
        "tiny": dict(n_hosts=12, base_pages=6, head_pages=6, seeds_per_host=2, jd_details_per_category=20, rounds=1),
    }

    def generate(self, seed: int) -> gen.CrawlInputs:
        knobs = {k: v for k, v in self.size.items() if k != "rounds"}
        return gen.crawl_corpus(seed, **knobs)

    def describe(self, inputs: gen.CrawlInputs) -> dict:
        return {
            "pages": len(inputs.pages), "seeds": len(inputs.seeds),
            "hosts": len(inputs.politeness), "rounds": self.size["rounds"],
            "jd_detail_pages": sum(len(u) for _, u in inputs.categories),
            "urljoin_href_share": round(inputs.rel_hrefs / max(inputs.hrefs, 1), 4),
        }

    def load(self, spark, inputs: gen.CrawlInputs, d: str) -> dict:
        paths = _write_crawl_inputs(inputs, d)
        paths["jd_todo"] = _write_table(
            os.path.join(d, "jd_todo.parquet"),
            {
                "url_canon": [u for _, urls in inputs.categories for u in urls],
                "category": [c for c, urls in inputs.categories for _ in urls],
            },
        )
        handles = {k: spark.read.parquet(p) for k, p in paths.items()}
        handles["categories"] = [c for c, _ in inputs.categories]
        return handles

    def run_unit(self, spark, h: dict, unit_dir: str) -> Unit:
        from pyspark.sql import functions as F

        from crawler_spark.collector import extract_fields, fetch_join
        from crawler_spark.examples.jd import jd_fields
        from crawler_spark.scheduler import CrawlConfig, crawl, read_manifest
        from crawler_spark.sinks import read_orc, write_orc

        ckpt = os.path.join(unit_dir, "ckpt")
        out = os.path.join(unit_dir, "out")
        cfg = CrawlConfig(
            checkpoint_dir=ckpt, max_rounds=self.size["rounds"], n_buckets=8,
            default_budget=gen.DEFAULT_BUDGET,
        )
        t0 = time.time()
        res = crawl(spark, h["pages"], h["seeds"], h["robots"], h["politeness"], cfg)
        t_crawl = time.time()
        # the generated page urls are already canonical; the collector joins on url_canon
        corpus = h["pages"].select(F.col("url").alias("url_canon"), "html")
        fetched = res.schedule.filter(F.col("fetched")).select(F.col("url").alias("url_canon"))
        for cat in h["categories"]:
            todo = fetched.join(
                h["jd_todo"].filter(F.col("category") == cat).select("url_canon"), "url_canon", "left_semi"
            )
            rows = extract_fields(fetch_join(todo, corpus), jd_fields(cat), corpus=corpus)
            write_orc(rows, os.path.join(out, f"category={cat}"))
        t1 = time.time()

        ends = _round_ends_ms(ckpt, res.rounds)
        steps = [(b - a) / 1000.0 for a, b in zip(ends, ends[1:])]
        disk = dir_bytes(ckpt)
        sched = [
            (r["round"], r["priority"], r["seq"], r["url"], r["fetched"])
            for r in res.schedule.orderBy("round", "priority", "seq").collect()
        ]
        seen = {r["url_canon"] for r in res.seen.select("url_canon").collect()}
        got = {
            cat: [r.asDict() for r in read_orc(spark, os.path.join(out, f"category={cat}")).collect()]
            for cat in h["categories"]
        }
        n_rows = sum(len(v) for v in got.values())
        hits = sum(1 for v in got.values() for r in v if r["funder_supported"])
        manifest = read_manifest(ckpt) or {}
        return Unit(
            run_s=t1 - t0, items=len(sched), steps=steps, disk_bytes=disk,
            t0_ms=t0 * 1000.0, t1_ms=t1 * 1000.0, round_ends_ms=ends + [t_crawl * 1000.0],
            extra={
                "schedule": sched, "seen": seen, "rows": got, "rounds": res.rounds,
                "pages_per_s": n_rows / (t1 - t_crawl),
                "seen_log_segments": len(manifest.get("seen_paths") or []),
                "fetch_hits": sum(1 for r in sched if r[4]),
                "fetch_misses": sum(1 for r in sched if not r[4]),
                "followup_hits": 2 * hits, "followup_misses": 2 * (n_rows - hits),
            },
        )

    def oracle(self, inputs: gen.CrawlInputs):
        if self._oracle is None:
            from crawler_spark.examples.jd import oracle_row
            from crawler_spark.oracle import crawl_oracle

            args = inputs.oracle_args()
            result = crawl_oracle(**args, default_budget=gen.DEFAULT_BUDGET, max_rounds=self.size["rounds"])
            fetched = {e.url for e in result.schedule if e.fetched}
            corpus = args["pages"]
            rows = {
                cat: {u: oracle_row(u, corpus[u], corpus, cat) for u in urls if u in fetched}
                for cat, urls in inputs.categories
            }
            self._oracle = (result, rows)
        return self._oracle

    def check(self, spark, unit: Unit, inputs) -> list[str]:
        want, want_rows = self.oracle(inputs)
        out = schedule_problems(unit.extra["schedule"], oracle_schedule(want))
        if unit.extra["seen"] != want.seen:
            out.append(
                f"seen set differs: {len(unit.extra['seen'] - want.seen)} extra, "
                f"{len(want.seen - unit.extra['seen'])} missing"
            )
        out += rows_problems(unit.extra["rows"], want_rows)
        return out


def rows_problems(got_rows: dict, want_rows: dict) -> list[str]:
    """Differences between extracted rows read back from the sink and
    ``examples.jd.oracle_row`` per category."""
    out = []
    for cat, want in want_rows.items():
        rows = got_rows.get(cat, [])
        got = {r["url_canon"]: {k: (v or "") for k, v in r.items() if k != "url_canon"} for r in rows}
        if len(got) != len(rows):
            out.append(f"{cat}: {len(rows) - len(got)} duplicate rows")
        if set(got) != set(want):
            out.append(f"{cat}: url set differs ({len(got)} rows, oracle {len(want)})")
        bad = [u for u in want if u in got and got[u] != want[u]]
        for u in bad[:3]:
            diff = {k: (got[u].get(k), v) for k, v in want[u].items() if got[u].get(k) != v}
            out.append(f"{cat}: {u}: (sink, oracle) {diff}")
        trimmed = [
            u for u in bad
            if all(got[u].get(k) == v.strip() for k, v in want[u].items())
        ]
        if trimmed:
            out.append(
                f"{cat}: {len(trimmed)} of {len(bad)} differing rows differ only by "
                "leading/trailing whitespace the sink lost"
            )
        if len(bad) > 3:
            out.append(f"{cat}: {len(bad)} rows differ")
    return out


# --- crawl_stream ---------------------------------------------------------------


class _BatchTimes:
    """StreamingQueryListener that keeps each non-empty micro-batch's
    trigger duration (seconds)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        times = self.times = []
        lock = self.lock = threading.Lock()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows > 0:
                    with lock:
                        times.append(p.durationMs.get("triggerExecution", 0) / 1000.0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()

    def take(self, expected: int, timeout_s: float = 10.0) -> list[float]:
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            with self.lock:
                if len(self.times) >= expected:
                    break
            time.sleep(0.05)
        with self.lock:
            out = list(self.times)
            self.times.clear()
        return out


class CrawlStream(Workload):
    name = "crawl_stream"
    kind = "stream"
    SIZES = {
        "full": dict(n_hosts=30, base_pages=2, head_pages=2, seeds_per_host=1),
        "tiny": dict(n_hosts=6, base_pages=3, head_pages=2, seeds_per_host=1),
    }

    def generate(self, seed: int) -> gen.CrawlInputs:
        return gen.crawl_corpus(seed, **self.size)

    def describe(self, inputs: gen.CrawlInputs) -> dict:
        return {
            "pages": len(inputs.pages), "seeds": len(inputs.seeds), "hosts": len(inputs.politeness),
            "urljoin_href_share": round(inputs.rel_hrefs / max(inputs.hrefs, 1), 4),
        }

    def load(self, spark, inputs: gen.CrawlInputs, d: str) -> dict:
        paths = _write_crawl_inputs(inputs, d)
        handles = {k: spark.read.parquet(p) for k, p in paths.items()}
        if self._batch_times is None:  # one listener per session
            self._batch_times = _BatchTimes()
            spark.streams.addListener(self._batch_times.listener)
        handles["batch_times"] = self._batch_times
        return handles

    def run_unit(self, spark, h: dict, unit_dir: str) -> Unit:
        from crawler_spark.streaming import StreamCrawlConfig, stream_crawl

        work = os.path.join(unit_dir, "stream")
        cfg = StreamCrawlConfig(
            work_dir=work, default_budget=gen.DEFAULT_BUDGET, n_buckets=8, max_passes=60
        )
        h["batch_times"].take(0, 0.0)
        t0 = time.time()
        res = stream_crawl(spark, h["pages"], h["seeds"], h["robots"], h["politeness"], cfg)
        t1 = time.time()
        batches = len(os.listdir(cfg.schedule_dir))
        steps = h["batch_times"].take(batches)
        disk = dir_bytes(work)
        rows = [(r["url"], r["fetched"]) for r in res["schedule"].select("url", "fetched").collect()]
        seen = {r["url_canon"] for r in res["seen"].collect()}
        published = sum(1 for f in os.listdir(cfg.frontier_in) if f.endswith(".parquet"))
        return Unit(
            run_s=t1 - t0, items=len(rows), steps=steps, disk_bytes=disk,
            t0_ms=t0 * 1000.0, t1_ms=t1 * 1000.0,
            extra={
                "schedule": rows, "seen": seen, "passes": res["passes"], "batches": batches,
                "files_published": published,
                "fetch_hits": sum(1 for r in rows if r[1]),
                "fetch_misses": sum(1 for r in rows if not r[1]),
            },
        )

    def oracle(self, inputs: gen.CrawlInputs):
        if self._oracle is None:
            from crawler_spark.oracle import crawl_oracle

            self._oracle = crawl_oracle(**inputs.oracle_args(), default_budget=gen.DEFAULT_BUDGET, max_rounds=60)
        return self._oracle

    def check(self, spark, unit: Unit, inputs) -> list[str]:
        want = self.oracle(inputs)
        urls = [u for u, _ in unit.extra["schedule"]]
        out = []
        if len(urls) != len(set(urls)):
            out.append(f"{len(urls) - len(set(urls))} urls scheduled more than once")
        want_urls = {e.url for e in want.schedule}
        if set(urls) != want_urls:
            out.append(
                f"scheduled set differs: {len(set(urls) - want_urls)} extra, "
                f"{len(want_urls - set(urls))} missing"
            )
        if unit.extra["seen"] != want.seen:
            out.append(
                f"seen set differs: {len(unit.extra['seen'] - want.seen)} extra, "
                f"{len(want.seen - unit.extra['seen'])} missing"
            )
        return out


WORKLOADS = {w.name: w for w in (CrawlExtract, CrawlStream)}
