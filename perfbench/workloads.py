"""The benchmark's workloads: inputs, query lists and oracle checks.

Each workload is a fixed list of queries run as a closed loop by one
client. The seed only permutes the order of each pass, so every run of
a workload executes the same work. Expected answers are computed once
per process with DuckDB over the same parquet, before anything is
timed; every timed query is checked against them.

Only the program's public entry points are called here:
``tpcds.runner`` (views, query text, comparators),
``plans.cte.run_with_materialized_ctes``, the ``queries`` registry and
its ``ORACLES`` SQL, ``oracle.value_hash`` and
``datapipe.dedup.release_caches``.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))

# Every 10th query of the 103-query corpus in runner.query_names()
# order, starting at the ninth. A stride sample rather than a hand
# pick: it spans star joins, rollups, windows and the two queries
# whose multi-referenced CTEs get cached (q75, q95). Ten queries keep
# a warm pass near 5 s at micro scale, where each query costs
# 0.2-1 s and per-query fixed overhead dominates.
TPCDS_MICRO = tuple(
    "q9 q18 q26 q36 q45 q55 q65 q75 q85 q95".split()
)

# Eight of the bench.py HEADLINE queries: TPC-H shapes built with the
# DataFrame API (h01, h06, h18), window frames, session windows and the
# three pandas-UDF operators (MinHash near-dup, kNN cosine, text
# quality), the only batch queries that start Python workers.
ENGINE_MIX = (
    "h01_pricing_summary",
    "h06_forecast_revenue",
    "h18_large_volume_customer",
    "ops_window_frames",
    "ev_session_window",
    "dp_neardup_minhash",
    "dp_knn_cosine",
    "dp_text_quality",
)

# A Structured Streaming entry that reads a file stream micro-batch by
# micro-batch, keeps update-mode aggregation state and appends each
# delta to a changelog sink. Every st_* entry costs 4-15 s warm, set
# by its micro-batch count rather than its input size, so a run of the
# length the benchmark allows can repeat only the cheapest one.
STREAM_STATE = ("st_upsert_keeplast",)


@dataclass
class Expected:
    """A precomputed oracle answer for one query."""

    rows: list = field(default_factory=list)
    unlimited: list | None = None  # TPC-DS uncertain-set superset
    columns: list[str] | None = None  # registry: sorted column names
    digest: str = ""  # registry: oracle.value_hash of the rows


class TpcdsWorkload:
    """Corpus queries on the micro generator output, as temp views,
    each run through ``run_with_materialized_ctes``."""

    kind = "tpcds"

    def __init__(self, name: str, queries: tuple[str, ...], passes: int):
        self.name = name
        self.queries = queries
        self.passes = passes
        self.data_dir = ""
        self.expected: dict[str, Expected] = {}

    def prepare(self, work_dir: str, smoke: bool) -> None:
        from flink_tpcds_spark.tpcds import datagen

        # The marker fingerprint makes later runs in the same
        # checkout reuse the data.
        self.data_dir = datagen.generate(os.path.join(work_dir, "tpcds_micro"))

    def compute_oracles(self) -> None:
        from flink_tpcds_spark.tpcds import runner

        con = runner.duckdb_conn(self.data_dir)
        try:
            for name in self.queries:
                sql = runner.query_text(name, "duckdb")
                exp = Expected(rows=con.execute(sql).fetchall())
                if name in runner.UNCERTAIN and runner.trailing_limit(sql):
                    exp.unlimited = con.execute(
                        runner.strip_trailing_limit(sql)
                    ).fetchall()
                self.expected[name] = exp
        finally:
            con.close()

    def register(self, spark) -> dict[str, float]:
        from flink_tpcds_spark.tpcds import runner

        t0 = time.perf_counter()
        runner.register_spark_views(spark, self.data_dir)
        return {"schemas.register_s": time.perf_counter() - t0}

    def build(self, spark, name: str):
        from flink_tpcds_spark.plans.cte import run_with_materialized_ctes
        from flink_tpcds_spark.tpcds import runner

        return run_with_materialized_ctes(spark, runner.query_text(name, "spark"))

    def check(self, name: str, columns: list[str], rows: list[tuple]) -> str | None:
        from flink_tpcds_spark.tpcds import runner

        exp = self.expected[name]
        if exp.unlimited is not None:
            res = runner.subset_check(name, rows, exp.rows, exp.unlimited)
        else:
            res = runner.compare_rows(name, rows, exp.rows)
        return None if res.ok else res.detail or "mismatch"


class RegistryWorkload:
    """Entries of the ``queries`` registry on TPC-H-shaped parquet,
    checked by value hash against their ``ORACLES`` SQL."""

    kind = "registry"

    def __init__(self, name: str, queries: tuple[str, ...], passes: int):
        self.name = name
        self.queries = queries
        self.passes = passes
        self.data_dir = ""
        self.expected: dict[str, Expected] = {}
        self._fns: dict = {}

    def prepare(self, work_dir: str, smoke: bool) -> None:
        # Streaming entries create checkpoints and sinks in temp
        # directories, never next to their input, but the copy keeps
        # the committed fixture untouched all the same.
        scale = "sf0.001" if smoke else "sf0.01"
        src = os.path.join(HERE, "data", scale)
        dst = os.path.join(work_dir, "tpch_" + scale)
        if not os.path.isdir(dst):
            shutil.copytree(src, dst + ".tmp", dirs_exist_ok=True)
            os.replace(dst + ".tmp", dst)
        self.data_dir = dst

    def compute_oracles(self) -> None:
        from flink_tpcds_spark.oracle import duckdb_connection, value_hash
        from flink_tpcds_spark.queries import all_oracles

        oracles = all_oracles()
        con = duckdb_connection(self.data_dir)
        try:
            for name in self.queries:
                res = con.execute(oracles[name])
                cols = [d[0] for d in res.description]
                rows = [tuple(r) for r in res.fetchall()]
                self.expected[name] = Expected(
                    rows=rows, columns=sorted(cols),
                    digest=value_hash(cols, rows),
                )
        finally:
            con.close()

    def register(self, spark) -> dict[str, float]:
        # Registry entries load their own tables inside the call.
        return {"schemas.register_s": 0.0}

    def build(self, spark, name: str):
        from flink_tpcds_spark.datapipe.dedup import release_caches
        from flink_tpcds_spark.queries import all_queries

        if not self._fns:
            self._fns = all_queries()
        fn = self._fns[name]
        # st_* entries memoize their result per (name, application,
        # input); the undecorated function runs the streams every time.
        fn = getattr(fn, "__wrapped__", fn)
        return fn(spark, self.data_dir), release_caches

    def check(self, name: str, columns: list[str], rows: list[tuple]) -> str | None:
        from flink_tpcds_spark.oracle import value_hash

        exp = self.expected[name]
        if sorted(columns) != exp.columns:
            return f"columns {sorted(columns)} != oracle {exp.columns}"
        if len(rows) != len(exp.rows):
            return f"{len(rows)} rows != oracle {len(exp.rows)}"
        if value_hash(columns, rows) != exp.digest:
            return "value hash differs from oracle"
        return None


# The minimum number of timed passes per run. Pass times keep falling
# for several passes after the cold one (JIT, codegen, heap growth) and
# a single pass varies by about 8%. More passes steadied the
# fixed-overhead-bound micro queries (run-to-run spread of pass_s
# 0.16-0.22 with two or three passes, 0.12-0.14 with four) but not
# engine_mix (0.07-0.10 with two, 0.12 with three); the counts also
# keep every run inside the benchmark's time budget.
PASSES = {"tpcds_micro": 4, "engine_mix": 2, "stream_state": 2}


def make(name: str, smoke: bool = False):
    """The workload called ``name``; ``smoke`` keeps two queries and
    one timed pass."""
    table = {
        "tpcds_micro": (TpcdsWorkload, TPCDS_MICRO),
        "engine_mix": (RegistryWorkload, ENGINE_MIX),
        "stream_state": (RegistryWorkload, STREAM_STATE),
    }
    if name not in table:
        raise KeyError(f"unknown workload {name!r}; known: {sorted(table)}")
    cls, queries = table[name]
    if smoke:
        return cls(name, queries[:2], passes=1)
    return cls(name, queries, passes=PASSES[name])
