"""The ``query_suite`` workload: operator entries of
``__spark_entry__.queries()`` over seeded input tables, each timed to a
fully delivered pandas frame and checked against its ``oracle_sql()``.

Inputs are generated here, with the columns and types of the fixture
tables TESTDATA.md describes, so a run reads nothing outside its
checkout. The warm-up pass runs the same entries over smaller tables in
another directory: the session-keyed shared caches (``_MINHASH_PAIRS_CACHE``,
``_DOC_FB_CACHE``, ``_DSIR_W_CACHE``) key on that directory, so they stay
cold for the timed pass, and ``spark.catalog.clearCache()`` is never
called (after it those caches would hand back unpersisted plans).
"""

from __future__ import annotations

import os
import re
import statistics
import time
import traceback
from contextlib import contextmanager, nullcontext
from unittest import mock

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.common import Unit, Workload

# The operators layer: quality scoring (DSIR, classifier, LM), near-dup
# clusters over MinHash-LSH pairs, and SM4 masking through a Python UDF.
# Together they read the three session-keyed shared caches. The whole
# 50-entry suite needs about 45 s per warm pass on a 4-core VM, most of
# it plan construction over py4j, which a run cannot afford twice.
ENTRIES = (
    "quality_suite",
    "dedup_clusters",
    "masking_suite",
)

VOCAB = ("a agg batch big column customer data dup fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()
LANGS = ("en", "zh", "es", "de", "fr")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
DIM = 64

TIMED_SIZE = {"documents": 500, "embeddings": 500, "customer": 1500, "events": 10_000}
WARMUP_SIZE = {"documents": 100, "embeddings": 100, "customer": 300, "events": 2_000}


# ------------------------------------------------------------------ inputs


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        target = int(rng.integers(44, 578))
        if i > 10 and rng.random() < 0.08:
            # planted near-duplicate: an earlier doc with a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), target // 3 + 2)]
        texts.append(" ".join(words)[:target].strip())
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in rng.choice(5, n, p=[.44, .15, .15, .14, .12])]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(10, DIM))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n, DIM))
    dup = rng.random(n) < 0.03
    src = rng.integers(0, n, n)
    vecs[dup] = vecs[src[dup]] + rng.normal(scale=0.01, size=(int(dup.sum()), DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array([SEGMENTS[k] for k in rng.integers(0, 5, n)]),
    })


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[k] for k in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def generate_tables(out: str, seed: int, sizes: dict[str, int]) -> None:
    """Write the four input tables the entries read, one parquet each."""
    rng = np.random.default_rng(seed)
    makers = {"documents": _documents, "embeddings": _embeddings,
              "customer": _customer, "events": _events}
    for name, make in makers.items():
        pq.write_table(make(rng, sizes[name]), os.path.join(out, f"{name}.parquet"))


# ------------------------------------------------------------------ oracle


@contextmanager
def _embeddings_from(path: str):
    """``oracle_sql()`` builds every oracle eagerly, and three of them fit
    centroids from a fixed fixture file; point those reads at this run's
    generated embeddings so no read leaves the checkout."""
    real = pd.read_parquet

    def read(p, *a, **k):
        if os.path.basename(str(p)) == "embeddings.parquet":
            p = path
        return real(p, *a, **k)

    with mock.patch("pandas.read_parquet", read):
        yield


GOLDEN = re.compile(r"read_parquet\('[^']*/tests/golden/([a-z_]+)\.sf[0-9.]+\.parquet'\)")


class QuerySuite(Workload):
    """Read-only operator work beside the two write workloads."""

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        import __spark_entry__ as entry
        from tools import check_oracle, make_golden

        self.queries = {n: entry.queries()[n] for n in ENTRIES}
        self.check = check_oracle
        self.golden = make_golden
        self.entry = entry
        self.oracles: dict[str, str] | None = None

    def _pass(self, d: str, timed: bool):
        build, wall, frames = {}, {}, {}
        for name, fn in self.queries.items():
            span = (self.tracer.span(f"query.{name}")
                    if self.tracer is not None and timed else nullcontext())
            t0 = t1 = time.time()
            try:
                with span:
                    df = fn(self.spark, d)
                    t1 = time.time()
                    frames[name] = df.toPandas()
            except Exception:  # one failed entry must not end the pass
                traceback.print_exc()
                frames[name] = None
            build[name], wall[name] = t1 - t0, time.time() - t0
        return build, wall, frames

    def warmup(self) -> None:
        d = self.fresh_dir("warmup")
        generate_tables(d, self.seed + 1, WARMUP_SIZE)
        self._pass(d, timed=False)
        with _embeddings_from(os.path.join(d, "embeddings.parquet")):
            self.oracles = self.entry.oracle_sql()

    def _oracle(self, con, name: str, d: str) -> pd.DataFrame:
        sql = self.oracles[name]
        for golden in set(GOLDEN.findall(sql)):
            if golden != "dedup_clusters":
                raise ValueError(f"{name}: no generator for golden {golden}")
            path = os.path.join(d, "golden_dedup_clusters.parquet")
            if not os.path.exists(path):
                docs = pd.read_parquet(os.path.join(d, "documents.parquet"),
                                       columns=["doc_id", "text"])
                self.golden.clusters_golden(docs).to_parquet(path, index=False)
            sql = GOLDEN.sub(f"read_parquet('{path}')", sql)
        return con.execute(sql).df()

    def _same(self, got: pd.DataFrame, want: pd.DataFrame) -> bool:
        if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
            return False
        return self.check.canon(got).equals(self.check.canon(want))

    def unit(self, i: int) -> Unit:
        d = self.fresh_dir(f"unit{i}")
        t_setup = time.time()
        generate_tables(d, self.seed, TIMED_SIZE)
        setup_s = time.time() - t_setup
        with self.work_span(i):
            build, wall, frames = self._pass(d, timed=True)
        con = duckdb.connect()
        for t in TIMED_SIZE:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
        checks = {}
        for name, got in frames.items():
            if got is None:
                checks[name] = False
                continue
            try:
                checks[name] = self._same(got, self._oracle(con, name, d))
            except (duckdb.Error, ValueError):
                checks[name] = False
        con.close()
        failed = sum(not ok for ok in checks.values())
        facts = {"plan_build_s": sum(build.values()), "entry_s": wall,
                 "rows": sum(len(f) for f in frames.values() if f is not None)}
        return Unit(setup_s, sum(wall.values()), list(wall.values()), len(frames), failed,
                    checks, facts)


def median_entry_times(units: list[Unit]) -> dict[str, float]:
    return {n: statistics.median(u.facts["entry_s"][n] for u in units) for n in ENTRIES}
