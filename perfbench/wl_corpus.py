"""corpus_prep: the training-data preparation DAG.

One operation is ``q_corpus_pipeline`` (PII redaction -> repetition
filter -> boilerplate removal -> exact dedup -> MinHash-LSH pairs ->
duplicate clusters -> per-language hash sample, one lazy DAG) over a
synthetic ``documents`` table, with the result rows collected.

Input: ``N_DOCS`` documents generated from ``--seed`` by
``gen_documents``, whose constants are fitted to the repository's
``documents`` test table at sf0.1 (5,000 documents): uniform word soup
over the same 30-word vocabulary, 10-99 tokens, and one document in
twenty overwritten by another document's text plus the token "dup".
Those near duplicates are what the LSH and cluster stages find; two
near duplicates of the same document are the exact copies; the
repetition filter drops the long documents of a small vocabulary.

Oracle: ``sql_corpus_pipeline()`` run by DuckDB over the same parquet
(see ``twin_sql``), computed once per seed in prepare.py's child
process and cached; every operation's rows must equal it as a
multiset.

Every run starts with one warm-up pass (JIT, Python workers), checked
but left out of the timed metrics. Traced run: untraced and traced
passes then alternate. The traced pass runs
the same DAG through ``_corpus_pipeline_dag`` with an eager
localCheckpoint at every stage boundary (as ``corpus_pipeline_staged``
does), one span per stage, so each stage's wall time and Spark work is
attributable.
"""

from __future__ import annotations

import json
import os
import random
import re
import tempfile
import time

import harness
import spans

N_DOCS = 5000
# one timed pass per this many seconds of --seconds, at least two (a
# warm pass takes about 7 s at local[4])
SECONDS_PER_PASS = 10.0
TRACE_PAIRS = 2

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en"] * 8 + ["zh", "es", "fr", "de"] * 3  # 40% en, 15% each other
NEAR_DUP_EVERY = 20

# DAG stage (as named by _corpus_pipeline_dag) -> per-layer metric
STAGES = {
    "pii_redact": "corpusops.pii_redact_s",
    "repetition_filter": "corpusops.repetition_s",
    "boilerplate": "corpusops.boilerplate_s",
    "exact_dedup": "textops.exact_dedup_s",
    "lsh_pairs": "textops.lsh_pairs_s",
    "components_reps": "textops.dup_clusters_s",
    "sample_join": "corpusops.hash_sample_s",
}
TARGETS = {m: "items_per_s" for m in STAGES.values()}
TARGETS.update(
    {
        "textops.lsh_candidate_pairs": "items_per_s",
        "textops.lsh_verified_ratio": "items_per_s",
        "corpus.spark_tasks_per_pass": "op_s_p50",
        "trace.overhead_s": "op_s_p50",
    }
)


def gen_documents(seed: int, n: int) -> list[dict]:
    rng = random.Random(seed)
    texts = [" ".join(rng.choices(VOCAB, k=rng.randint(10, 99))) for _ in range(n)]
    # in place, so a source may itself be a near duplicate already
    for i in rng.sample(range(n), n // NEAR_DUP_EVERY):
        texts[i] = texts[rng.randrange(n)] + " dup"
    return [
        {
            "doc_id": i,
            "text": t,
            "lang": rng.choice(LANGS),
            "source": f"src{i % 20}",
            "n_chars": len(t),
        }
        for i, t in enumerate(texts)
    ]


class Inputs:
    """The seed's documents parquet and the oracle's rows.
    ``prepare`` (run in the child process of prepare.py) builds both;
    the measured process only reads them."""

    def __init__(self, seed: int):
        self.seed = seed
        self.dir = os.path.join(harness.CACHE, f"corpus-{N_DOCS}-s{seed}")
        self.docs = os.path.join(self.dir, "documents.parquet")
        self.expect_path = os.path.join(self.dir, "expected.json")

    def prepare(self) -> None:
        os.makedirs(self.dir, exist_ok=True)
        if not os.path.exists(self.docs):
            import pyarrow as pa
            import pyarrow.parquet as pq

            tmp = f"{self.docs}.{os.getpid()}"
            pq.write_table(pa.Table.from_pylist(gen_documents(self.seed, N_DOCS)), tmp)
            os.replace(tmp, self.docs)
        if not os.path.exists(self.expect_path):
            import duckdb

            con = duckdb.connect()
            con.execute("SET memory_limit='2GB'")
            con.execute(f"SET threads={harness.cores()}")
            # spill files go to the run's temp dir, not ./.tmp
            tmpdir = tempfile.gettempdir().replace("'", "''")
            con.execute(f"SET temp_directory='{tmpdir}'")
            path = self.docs.replace("'", "''")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            rows = [list(r) for r in con.execute(twin_sql()).fetchall()]
            con.close()
            tmp = f"{self.expect_path}.{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(rows, f)
            os.replace(tmp, self.expect_path)

    def ready(self) -> bool:
        return os.path.exists(self.docs) and os.path.exists(self.expect_path)

    def oracle(self) -> list[tuple]:
        with open(self.expect_path) as f:
            return sorted(_norm(r) for r in json.load(f))


def prepare(seed: int) -> None:
    Inputs(seed).prepare()


# a CTE head ``name AS (`` whose body is a query; the recursive
# ``reach(id, label) AS (`` of dup_clusters_sql does not match
_CTE_HEAD = re.compile(r"\b(\w+) AS \((?=\s*(SELECT|WITH)\b)")


def twin_sql() -> str:
    """``sql_corpus_pipeline()`` with every CTE marked MATERIALIZED.
    As written, DuckDB inlines the LSH pairs query into the recursive
    cluster CTE, evaluates it again on every iteration and runs out of
    memory even on the 500-document sf0.01 table; with its CTEs
    materialized the same statement takes about 3 s on 5,000
    documents at 2 threads."""
    import __spark_entry__ as entry

    sql, n = _CTE_HEAD.subn(r"\1 AS MATERIALIZED (", entry.sql_corpus_pipeline())
    if n == 0:
        raise RuntimeError("sql_corpus_pipeline() has no CTE left to materialize")
    return sql


def _norm(row) -> tuple:
    return tuple(int(v) if isinstance(v, (int, bool)) else v for v in row)


def check(rows, expect: list[tuple]) -> str | None:
    got = sorted(_norm(r) for r in rows)
    if got == expect:
        return None
    return f"{len(got)} rows vs {len(expect)} expected ({len(set(got) ^ set(expect))} differ)"


# ---------------------------------------------------------------------------


def traced_pass(spark, data_dir: str, tracer):
    """The staged DAG: one span per stage interval, each ending in an
    eager localCheckpoint; returns (rows, root span, extra counts)."""
    import __spark_entry__ as entry
    from crawlspark.textops import _release_checkpoint

    owned: list = []
    pinned: dict = {}
    cur = [None]

    def open_interval():
        cm = tracer.span("corpus.stage")
        cur[0] = (cm, cm.__enter__())

    def stage(name, df):
        out = df.localCheckpoint(eager=True)
        cm, sp = cur[0]
        sp.name = STAGES[name]
        cm.__exit__(None, None, None)
        pinned[name] = out
        open_interval()
        return out

    with tracer.span("corpus.pass") as root:
        open_interval()
        try:
            df = entry._corpus_pipeline_dag(spark, data_dir, stage, owner=owned)
            rows = df.collect()
            cur[0][1].name = STAGES["sample_join"]
        finally:
            cur[0][0].__exit__(None, None, None)
    tracer.collect_work(root)

    # bookkeeping outside the timed pass: LSH candidate pairs from the
    # band table minhash_lsh_pairs persisted, verified pairs from the
    # checkpointed lsh_pairs stage
    from pyspark.sql import functions as F

    banded = [df for df in owned if set(df.columns) == {"doc_id", "band", "band_hash"}]
    cand = 0
    if banded:
        a, b = banded[0].alias("a"), banded[0].alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select("a.doc_id", "b.doc_id")
            .distinct()
            .count()
        )
    verified = pinned["lsh_pairs"].count()
    for df in owned + list(pinned.values()):
        df.unpersist()
        _release_checkpoint(df)
    return rows, root, {"candidates": cand, "verified": verified}


def layer_values(root, extra: dict) -> dict:
    out = {m: spans.total(root, m) for m in STAGES.values()}
    out["textops.lsh_candidate_pairs"] = extra["candidates"]
    out["textops.lsh_verified_ratio"] = (
        extra["verified"] / extra["candidates"] if extra["candidates"] else 0.0
    )
    out["corpus.spark_tasks_per_pass"] = root.inclusive_work()["tasks"]
    out["_spans"] = {
        s.name: {"s": round(s.dur, 4), **s.work} for s in root.children
    }
    return out


def run(seed: int, seconds: float, trace: bool, session) -> dict:
    import __spark_entry__ as entry

    inp = Inputs(seed)
    expect = inp.oracle()

    t0 = time.perf_counter()
    spark = session.start()
    spark.read.parquet(inp.docs).count()
    setup_s = time.perf_counter() - t0
    sc = spark.sparkContext
    tracer = spans.Tracer(sc) if trace else None

    # the first, cold pass is the warm-up: checked and counted as
    # attempted, but not part of the timed metrics
    n_ops = max(2, round(seconds / SECONDS_PER_PASS))
    plan = ["W"] + (["U", "T"] * TRACE_PAIRS if trace else ["U"] * n_ops)
    ops, errors, layers = [], [], []
    times: dict[str, list] = {}
    for i, kind in enumerate(plan):
        op = {"op": i, "kind": kind}
        try:
            if kind in ("U", "W"):
                rows, dt, op["spark"] = harness.run_in_group(
                    sc, f"pass-{i}",
                    lambda: entry.q_corpus_pipeline(spark, inp.dir).collect(),
                )
            else:
                rows, root, extra = traced_pass(spark, inp.dir, tracer)
                dt = root.dur
                op["spark"] = root.inclusive_work()
                layers.append(layer_values(root, extra))
            times.setdefault(kind, []).append(dt)
            op.update(op_s=dt, items=N_DOCS, rows=len(rows))
            err = check(rows, expect)
        except Exception as e:  # a raising pass is a failed operation
            err = harness.op_error(f"pass {i}", e)
        op["ok"] = err is None
        if err:
            errors.append(err)
        ops.append(op)

    overhead = []
    if trace and times.get("T") and times.get("U"):
        overhead = [harness.median(times["T"]) - harness.median(times["U"])]
    return {
        "setup_s": setup_s,
        "ops": ops,
        "errors": errors,
        "layers": layers,
        "overhead": overhead,
        "targets": TARGETS,
    }
