"""crawl_rounds: consecutive ``CrawlEngine.run_round`` calls.

Input: the ``tiny`` pages fixture (seed 42, the one the replay tests
pin), materialized to parquet once, plus its seed list. ``--seed``
permutes each site's seed list, i.e. which search chain every round
activates, so the per-round work, plans and commits differ between
seeds while the pages fetched stay close: three rounds fetch 53-65
pages over 40 seeds (quartiles 58/60/61), two rounds 32-47 over seeds
11-20 (quartiles 37/40/41). With the fixture seed itself varied
instead, the pages fetched in three rounds swing by a third between
seeds, which no throughput bound could absorb. The fixture has four
chains per site, so rounds 0-3 never re-walk a chain. Each run
uses a fresh catalog, the bloom seen filter and ``round_seconds=600``.

Oracle: ``ReferenceSimulator`` on the same pages and seed list, run
once per seed in prepare.py's child process and cached. After every
round the engine's ``popped`` / ``fetched_ok`` counters and the
committed seen set must equal the simulator's.

Traced run: two engines on the same inputs take turns for two rounds.
Engine A runs untraced; engine B runs with spans around its calls into
the parsers, tableio, warehouse, urlnorm, bloom and politeness layers,
and with the detail parser UDF's busy time and row count summed over
all worker batches in accumulators.
The urlnorm, bloom and politeness calls return lazy DataFrames, so for
B their output is materialized (persisted and counted) at the call
boundary. A layer's span then holds its own work plus whatever lazy
scheduler work feeding it was not materialized yet (the in-batch
window before the bloom dedup, for one); the materialization costs
extra work, reported as trace overhead: B's round time minus A's.
"""

from __future__ import annotations

import json
import os
import random
import time

import harness
import spans

SCALE = "tiny"
FIXTURE_SEED = 42
ROUND_SECONDS = 600.0
# one round per this many seconds of --seconds, at least two (a warm
# round takes 15-18 s at local[4])
SECONDS_PER_ROUND = 15.0
MAX_ROUNDS = 4  # the fixture has four search chains per site
TRACE_ROUNDS = 2

# per-layer metric -> end-to-end metric of crawl_rounds it should move
TARGETS = {
    "scheduler.spark_jobs_per_round": "op_s_p50",
    "scheduler.spark_stages_per_round": "op_s_p50",
    "scheduler.spark_tasks_per_round": "op_s_p50",
    "scheduler.self_s": "op_s_p50",
    "parsers.link_extract_s": "op_s_p50",
    "parsers.extract_s": "op_s_p50",
    "parsers.pages_parsed": "items_per_s",
    "tableio.write_s.extracted": "op_s_p50",
    "tableio.write_s.seen": "op_s_p50",
    "tableio.write_s.seen_bloom": "op_s_p50",
    "tableio.write_s.frontier": "op_s_p50",
    "tableio.write_s.crawl_log": "op_s_p50",
    "tableio.read_s": "op_s_p50",
    "tableio.files_per_round": "op_s_p50",
    "tableio.bytes_per_round": "peak_rss_mb",
    "tableio.manifest_bytes": "op_s_p50",
    "warehouse.merge_round_s": "op_s_p50",
    "urlnorm.canonicalize_s": "op_s_p50",
    "bloom.build_s": "op_s_p50",
    "bloom.update_s": "op_s_p50",
    "bloom.dedup_s": "op_s_p50",
    "politeness.robots_s": "op_s_p50",
    "politeness.pop_s": "op_s_p50",
    "politeness.popped_rows": "items_per_s",
    "politeness.contended_hosts": "op_s_p50",
    "trace.overhead_s": "op_s_p50",
}

# layer calls the scheduler makes whose result is a lazy DataFrame;
# the traced engine materializes the output of each
FORCED = {
    "attach_canonical": "urlnorm.canonicalize",
    "dedup_against_seen": "bloom.dedup",
    "apply_robots": "politeness.robots",
    "pop_per_host": "politeness.pop",
    "build_bloom": "bloom.build",
    "update_bloom": "bloom.update",
}
TABLES = ("extracted", "seen", "seen_bloom", "frontier", "crawl_log")


# ---------------------------------------------------------------------------
# inputs and oracle


class Inputs:
    """The seed's inputs. ``prepare`` (run in the child process of
    prepare.py) materializes the pages parquet and the oracle's
    per-round results; the measured process only reads them."""

    def __init__(self, seed: int):
        from crawlspark.fixtures import gen_seeds, politeness_rows, robots_rows

        d = os.path.join(harness.CACHE, f"crawl-{SCALE}-{FIXTURE_SEED}")
        self.pages_path = os.path.join(d, "pages.parquet")
        self.oracle_path = os.path.join(d, f"oracle-s{seed}-r{MAX_ROUNDS}.json")
        rng = random.Random(seed)
        seeds = gen_seeds(SCALE)
        by_site: dict[str, list] = {}
        for s in seeds:
            by_site.setdefault(s["site"], []).append(s)
        self.seeds = []
        for site in sorted(by_site):
            group = by_site[site]
            rng.shuffle(group)
            self.seeds.extend(group)
        self.politeness = politeness_rows()
        self.robots = robots_rows(FIXTURE_SEED, SCALE)

    def prepare(self) -> None:
        from crawlspark.pipeline_bench import write_small_pages_parquet

        os.makedirs(os.path.dirname(self.pages_path), exist_ok=True)
        if not os.path.exists(self.pages_path):
            tmp = f"{self.pages_path}.{os.getpid()}"
            write_small_pages_parquet(tmp, FIXTURE_SEED, SCALE)
            os.replace(tmp, self.pages_path)
        if not os.path.exists(self.oracle_path):
            tmp = f"{self.oracle_path}.{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(self._simulate(MAX_ROUNDS), f)
            os.replace(tmp, self.oracle_path)

    def _simulate(self, n_rounds: int) -> list[dict]:
        import pyarrow.parquet as pq

        from crawlspark.simulator import ReferenceSimulator

        t = pq.read_table(self.pages_path, columns=["url", "html"])
        pages = dict(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))
        sim = ReferenceSimulator(
            pages, self.seeds, self.politeness, self.robots,
            round_seconds=ROUND_SECONDS,
        )
        out = []
        for r in range(n_rounds):
            n0 = len(sim.state.log)
            sim.run_round(r)
            detail = [e for e in sim.state.log[n0:] if e["phase"] == "detail"]
            out.append(
                {
                    "popped": len(detail),
                    "fetched_ok": sum(1 for e in detail if e["ok"]),
                    "seen": sorted(sim.state.seen),
                }
            )
        return out

    def ready(self) -> bool:
        return os.path.exists(self.pages_path) and os.path.exists(self.oracle_path)

    def oracle(self, n_rounds: int) -> list[dict]:
        with open(self.oracle_path) as f:
            out = json.load(f)[:n_rounds]
        for r in out:
            r["seen"] = frozenset(r["seen"])
        return out


def prepare(seed: int) -> None:
    Inputs(seed).prepare()


def footprint(root: str) -> dict[str, int]:
    files = size = manifest = 0
    for d, _, names in os.walk(root):
        for n in names:
            b = os.path.getsize(os.path.join(d, n))
            files += 1
            size += b
            if n == "manifest.json":
                manifest += b
    return {"files": files, "bytes": size, "manifest_bytes": manifest}


# ---------------------------------------------------------------------------
# engines


def _catalog_class(tracer):
    from crawlspark.tableio import SnapshotCatalog

    class TracedCatalog(SnapshotCatalog):
        pass

    for m in ("write", "write_bucketed"):
        orig = getattr(SnapshotCatalog, m)

        def write(self, table, *a, _orig=orig, **kw):
            with tracer.span(f"tableio.write.{table}"):
                return _orig(self, table, *a, **kw)

        setattr(TracedCatalog, m, write)
    for m in (
        "read", "read_as_of_round", "read_buckets", "read_or_empty",
        "history", "exists", "last_committed_round", "is_bucketed_as_of",
        "bucket_map_as_of", "counters", "current_snapshot",
    ):
        setattr(TracedCatalog, m, tracer.wrap("tableio.read", getattr(SnapshotCatalog, m)))
    return TracedCatalog


class Crawl:
    """One engine over a fresh catalog, its oracle check and the
    catalog's footprint."""

    def __init__(self, spark, inp: Inputs, pages, catalog_cls=None):
        from crawlspark.scheduler import CrawlEngine
        from crawlspark.tableio import SnapshotCatalog

        self.root = os.path.join(
            harness.WORK, f"catalog-{time.perf_counter_ns()}"
        )
        self.catalog = (catalog_cls or SnapshotCatalog)(self.root, spark)
        self.engine = CrawlEngine(
            spark, self.catalog, pages, inp.seeds, inp.politeness, inp.robots,
            round_seconds=ROUND_SECONDS, seen_filter="bloom",
        )
        self.prev_fp = footprint(self.root)

    def check(self, rnd: int, counters: dict, expect: dict) -> str | None:
        from pyspark.sql import functions as F

        for k in ("popped", "fetched_ok"):
            if counters[k] != expect[k]:
                return f"round {rnd}: {k}={counters[k]} oracle={expect[k]}"
        seen = self.catalog.read_as_of_round("seen", rnd)
        got = {r[0] for r in seen.select(F.col("url_canon")).collect()}
        if got != expect["seen"]:
            return (
                f"round {rnd}: seen set differs "
                f"(+{len(got - expect['seen'])} -{len(expect['seen'] - got)})"
            )
        return None

    def grow(self) -> dict[str, int]:
        fp = footprint(self.root)
        delta = {k: fp[k] - self.prev_fp[k] for k in ("files", "bytes")}
        delta["manifest_bytes"] = fp["manifest_bytes"]
        self.prev_fp = fp
        return delta


def _force(df):
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


class TracedRound:
    """Patches the scheduler's layer calls for one round of engine B."""

    def __init__(self, spark):
        self.spark = spark
        self.tracer = spans.Tracer(spark.sparkContext)
        self.catalog_cls = _catalog_class(self.tracer)

    def run(self, crawl: Crawl, rnd: int):
        import crawlspark.scheduler as sched
        import crawlspark.warehouse as wh
        from crawlspark.parsers.udfs import DETAIL_SCHEMA, parse_detail_udf
        from pyspark.sql import functions as F

        tr = self.tracer
        sc = self.spark.sparkContext
        parse_busy, parse_rows = sc.accumulator(0.0), sc.accumulator(0)
        parse_udf = F.pandas_udf(
            spans.timed_udf_fn(parse_detail_udf.func, 3, parse_busy, parse_rows),
            DETAIL_SCHEMA,
        )
        forced: list = []
        stats = {"contended_hosts": 0}

        def forcing(name, fn):
            def call(*args, **kw):
                with tr.span(name):
                    out = _force(fn(*args, **kw))
                forced.append(out)
                if name == "politeness.pop":
                    with tr.span("perfbench.bookkeeping"):
                        stats["contended_hosts"] += (
                            out.filter(~F.col("popped")).select("host").distinct().count()
                        )
                return out

            return call

        pairs = [(sched, a, forcing(n, getattr(sched, a))) for a, n in FORCED.items()]
        pairs += [
            (sched, a, tr.wrap("parsers.link_extract", getattr(sched, a)))
            for a in ("extract_seek_links", "extract_jora_links", "page_count")
        ]
        pairs += [
            (sched, "parse_detail_udf", parse_udf),
            (wh, "merge_round", tr.wrap("warehouse.merge_round", wh.merge_round)),
        ]
        with spans.patch(pairs):
            t0 = time.perf_counter()
            with tr.span("scheduler.run_round") as root:
                counters = crawl.engine.run_round(rnd)
            dt = time.perf_counter() - t0
        for df in forced:
            df.unpersist()
        tr.collect_work(root)
        return counters, dt, root, {
            "parse_busy_s": parse_busy.value,
            "parse_rows": parse_rows.value,
            **stats,
        }


def layer_values(root, extra: dict, counters: dict, growth: dict) -> dict:
    names = {s.name for s in root.walk()}
    tot = lambda n: spans.total(root, n)  # noqa: E731
    work = root.inclusive_work()
    self_s = root.self_time - tot("perfbench.bookkeeping")
    out = {
        "scheduler.spark_jobs_per_round": work["jobs"],
        "scheduler.spark_stages_per_round": work["stages"],
        "scheduler.spark_tasks_per_round": work["tasks"],
        "scheduler.self_s": self_s,
        "parsers.link_extract_s": tot("parsers.link_extract"),
        "parsers.extract_s": extra["parse_busy_s"],
        "parsers.pages_parsed": extra["parse_rows"],
        "tableio.read_s": tot("tableio.read"),
        "tableio.files_per_round": growth["files"],
        "tableio.bytes_per_round": growth["bytes"],
        "tableio.manifest_bytes": growth["manifest_bytes"],
        "warehouse.merge_round_s": tot("warehouse.merge_round"),
        "urlnorm.canonicalize_s": tot("urlnorm.canonicalize"),
        "bloom.build_s": tot("bloom.build"),
        "bloom.update_s": tot("bloom.update"),
        "bloom.dedup_s": tot("bloom.dedup"),
        "politeness.robots_s": tot("politeness.robots"),
        "politeness.pop_s": tot("politeness.pop"),
        "politeness.popped_rows": counters["popped"],
        "politeness.contended_hosts": extra["contended_hosts"],
    }
    for t in TABLES:
        out[f"tableio.write_s.{t}"] = tot(f"tableio.write.{t}")
    out["_spans"] = {
        n: {
            "s": round(tot(n), 4),
            "calls": spans.count(root, n),
            **_sum_work(root, n),
        }
        for n in sorted(names)
    }
    return out


def _sum_work(root, name: str) -> dict:
    w = {"jobs": 0, "stages": 0, "tasks": 0}
    for s in root.walk():
        if s.name == name:
            w = harness.add_work(w, s.work)
    return w


# ---------------------------------------------------------------------------
# the workload


def run(seed: int, seconds: float, trace: bool, session) -> dict:
    inp = Inputs(seed)
    if trace:
        n_rounds = TRACE_ROUNDS
    else:
        n_rounds = min(MAX_ROUNDS, max(2, round(seconds / SECONDS_PER_ROUND)))
    expect = inp.oracle(n_rounds)

    t0 = time.perf_counter()
    spark = session.start()
    pages = spark.read.parquet(inp.pages_path).cache()
    pages.count()
    crawl = Crawl(spark, inp, pages)
    setup_s = time.perf_counter() - t0
    sc = spark.sparkContext

    traced = TracedRound(spark) if trace else None
    crawl_b = Crawl(spark, inp, pages, traced.catalog_cls) if trace else None

    ops, errors, layers, overhead = [], [], [], []
    for r in range(n_rounds):
        order = ["A", "B"] if trace and r % 2 == 0 else ["B", "A"] if trace else ["A"]
        times = {}
        for which in order:
            c = crawl if which == "A" else crawl_b
            op = {"round": r, "engine": which}
            try:
                if which == "A":
                    counters, dt, op["spark"] = harness.run_in_group(
                        sc, f"round-{r}-A", lambda: c.engine.run_round(r)
                    )
                else:
                    counters, dt, root, extra = traced.run(c, r)
                    op["spark"] = root.inclusive_work()
                times[which] = dt
                op.update(op_s=dt, items=counters["fetched_ok"],
                          popped=counters["popped"])
                err = c.check(r, counters, expect[r])
                growth = c.grow()
                op["catalog_growth"] = growth
                if which == "B":
                    layers.append(layer_values(root, extra, counters, growth))
            except Exception as e:  # a raising round is a failed operation
                err = harness.op_error(f"round {r}", e)
            op["ok"] = err is None
            if err:
                errors.append(err)
            ops.append(op)
        if len(times) == 2:
            overhead.append(times["B"] - times["A"])

    return {
        "setup_s": setup_s,
        "ops": ops,
        "errors": errors,
        "layers": layers,
        "overhead": overhead,
        "targets": TARGETS,
    }
