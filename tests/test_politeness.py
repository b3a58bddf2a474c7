"""Politeness operators: robots longest-prefix-match Column expression
vs the pure-Python decision, capacity math, and the two-stage salted
frontier pop vs a naive single-window oracle (SURVEY F-G/F-H)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from crawlspark.politeness import (
    DISCOVERY_KEY,
    capacity_df,
    capacity_map,
    pop_per_host,
    robots_allowed,
)
from crawlspark.simulator import robots_decision

RULES = [
    {"allow": True, "path_prefix": "/"},
    {"allow": False, "path_prefix": "/private/"},
    {"allow": True, "path_prefix": "/private/ok/"},
    {"allow": False, "path_prefix": "/apply/"},
]

PATHS = [
    "/", "/jobs/1", "/private/", "/private/x", "/private/ok/1",
    "/apply/9", "/applyx", "/private", "/PRIVATE/x",
]


def test_robots_column_matches_pure(spark):
    rows = [(p, [(r["allow"], r["path_prefix"]) for r in RULES]) for p in PATHS]
    rows.append(("/anything", None))
    rows.append(("/anything", []))
    df = spark.createDataFrame(
        rows,
        "path string, rules array<struct<allow:boolean,path_prefix:string>>",
    ).select(
        "path", "rules",
        robots_allowed(F.col("path"), F.col("rules")).alias("allowed"),
    )
    for r in df.collect():
        rules = (
            None
            if r["rules"] is None
            else [{"allow": x["allow"], "path_prefix": x["path_prefix"]} for x in r["rules"]]
        )
        assert r["allowed"] == robots_decision(rules, r["path"]), (r["path"], rules)


def test_capacity(spark):
    pol_rows = [
        ("a.example", 5.0, 4), ("b.example", 3.0, 2), ("d.example", 5.0, 4),
    ]
    rob_rows = [
        ("a.example", 2.0), ("c.example", 10.0),
        # Crawl-delay: 0 / a negative delay count as absent
        ("d.example", 0.0), ("e.example", -1.0),
    ]
    pol = spark.createDataFrame(
        pol_rows, "host string, delay_s double, max_concurrency int"
    )
    rob = spark.createDataFrame(rob_rows, "host string, crawl_delay double")
    got = {r["host"]: r["capacity"] for r in capacity_df(pol, rob, 600.0).collect()}
    # crawl_delay overrides delay_s; defaults: delay 1s, concurrency 2
    want = {
        "a.example": 300 * 4, "b.example": 200 * 2, "c.example": 60 * 2,
        "d.example": 120 * 4, "e.example": 600 * 2,
    }
    assert got == want
    # the driver-side map the engine budgets with agrees
    assert capacity_map(
        [dict(host=h, delay_s=d, max_concurrency=c) for h, d, c in pol_rows],
        [dict(host=h, crawl_delay=d) for h, d in rob_rows],
        600.0,
    ) == want


POP_SCHEMA = "host string, disc_round int, seed_idx int, depth int, link_idx int"


def _pop_key(r):
    return (r["host"], r["disc_round"], r["seed_idx"], r["depth"], r["link_idx"])


def _assert_pop_matches_naive(cand, budget, default_remaining, salt_shards):
    """pop_per_host == one global window per host: the same popped
    set, every candidate returned exactly once, every cap respected."""
    got = pop_per_host(
        cand, budget, salt_shards=salt_shards, default_remaining=default_remaining
    )
    w = Window.partitionBy("host").orderBy(*[F.col(c) for c in DISCOVERY_KEY])
    naive = (
        cand.join(budget, "host", "left")
        .withColumn("remaining", F.coalesce("remaining", F.lit(default_remaining)))
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("popped", F.col("_rn") <= F.col("remaining"))
    )
    rows = got.collect()
    assert sorted(_pop_key(r) for r in rows) == sorted(
        _pop_key(r) for r in cand.collect()
    )
    assert {_pop_key(r) for r in rows if r["popped"]} == {
        _pop_key(r) for r in naive.filter("popped").collect()
    }
    caps = {r["host"]: r["remaining"] for r in budget.collect()}
    for r in got.filter("popped").groupBy("host").count().collect():
        assert r["count"] <= caps.get(r["host"], default_remaining), r["host"]
    return rows


def _skewed_candidates(spark, n_hot=5_000, n_cold_hosts=50):
    hot = spark.range(n_hot).select(
        F.lit("hot.example").alias("host"),
        F.lit(0).alias("disc_round"),
        (F.col("id") % 13).cast("int").alias("seed_idx"),
        (F.col("id") % 7).cast("int").alias("depth"),
        F.col("id").cast("int").alias("link_idx"),
    )
    cold = spark.range(n_cold_hosts * 10).select(
        F.concat(F.lit("cold"), (F.col("id") % n_cold_hosts), F.lit(".example")).alias("host"),
        F.lit(0).alias("disc_round"),
        F.lit(0).alias("seed_idx"),
        F.lit(0).alias("depth"),
        F.col("id").cast("int").alias("link_idx"),
    )
    return hot.unionByName(cold)


def test_pop_per_host_matches_naive_window(spark):
    cand = _skewed_candidates(spark).cache()
    budget = spark.createDataFrame(
        [("hot.example", 100), ("cold0.example", 3)], "host string, remaining long"
    )
    got = pop_per_host(cand, budget, salt_shards=8, default_remaining=5)
    # naive oracle: one global window per host
    w = Window.partitionBy("host").orderBy(*[F.col(c) for c in DISCOVERY_KEY])
    naive = (
        cand.join(budget, "host", "left")
        .withColumn("remaining", F.coalesce("remaining", F.lit(5)))
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("popped", F.col("_rn") <= F.col("remaining"))
    )
    key = lambda r: (r["host"], r["disc_round"], r["seed_idx"], r["depth"], r["link_idx"])  # noqa: E731
    got_popped = {key(r) for r in got.filter("popped").collect()}
    naive_popped = {key(r) for r in naive.filter("popped").collect()}
    assert got_popped == naive_popped
    assert got.count() == cand.count()  # nothing lost or duplicated
    # budget respected
    per_host = (
        got.filter("popped").groupBy("host").count().collect()
    )
    for r in per_host:
        cap = {"hot.example": 100, "cold0.example": 3}.get(r["host"], 5)
        assert r["count"] <= cap


def test_pop_per_host_random_budgets_vs_naive(spark):
    """Randomized boundary stress (round 5): seeded random host sizes
    and budgets hitting every fast-path/contended boundary — remaining
    = 0, count == remaining (uncontended by exactly one), count ==
    remaining + 1 (minimally contended), budget ≫ count, and hosts
    absent from the budget dim (default applies) — must match the
    naive single-window oracle exactly, with no row lost or duplicated
    and every per-host cap respected."""
    import random

    rng = random.Random(0xF40)
    rows, budgets = [], []
    link = 0
    for h in range(24):
        host = f"h{h}.example"
        n = rng.choice([1, 2, 3, 5, 8, 20, 60])
        for _ in range(n):
            rows.append((host, rng.randrange(3), rng.randrange(13),
                         rng.randrange(7), link))
            link += 1
        case = h % 6
        if case == 0:
            budgets.append((host, 0))
        elif case == 1:
            budgets.append((host, n))        # count == remaining
        elif case == 2:
            budgets.append((host, max(n - 1, 0)))  # minimally contended
        elif case == 3:
            budgets.append((host, n + 50))   # budget >> count
        elif case == 4:
            budgets.append((host, rng.randrange(1, n + 1)))
        # case 5: absent from budget — default_remaining applies
    cand = spark.createDataFrame(rows, POP_SCHEMA)
    budget = spark.createDataFrame(budgets, "host string, remaining long")
    _assert_pop_matches_naive(cand, budget, 2, salt_shards=4)


@pytest.mark.parametrize("case", ["all_under_budget", "empty"])
def test_pop_per_host_uncontended_vs_naive(spark, case):
    """No contended host: the pop returns every candidate popped
    without planning a window — still exactly the naive oracle."""
    rows = []
    if case == "all_under_budget":
        for h in range(6):
            for i in range(h + 1):  # host h has h + 1 candidates
                rows.append((f"h{h}.example", 0, i % 3, i % 2, 10 * h + i))
    cand = spark.createDataFrame(rows, POP_SCHEMA)
    # budgets at the count (tight), above it, and the default for h5
    budget = spark.createDataFrame(
        [(f"h{h}.example", h + 1 + h % 2) for h in range(5)],
        "host string, remaining long",
    )
    got = _assert_pop_matches_naive(cand, budget, 6, salt_shards=4)
    assert all(r["popped"] for r in got)
