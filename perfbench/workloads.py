"""The benchmark's workloads: which queries a pass runs and how each output
is checked.

A query is a builder, called as ``build(spark, inputs)``, that returns a
DataFrame (sunk with the ``noop`` format and collected for the check) or,
for the RDD form of MapReduce, the collected result itself.

- ``curation`` runs registered queries on the generated tables:
  ``dedup_groups``' iterative min-label propagation and the MinHash pairs
  it usually consumes. Outputs are compared with the query's DuckDB oracle
  or, for ``minhash_dedup_pairs``, which has none, with a pinned row count.
- ``mapreduce`` drives ``map_reduce``, ``map_reduce_rows`` and
  ``run_map_reduce`` directly on the seeded directory listing, one job
  each. Its jobs are checked against a pandas recomputation from the same
  listing.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd

from perfbench import datagen

CURATION = [
    "dedup_groups_small",
    "minhash_dedup_pairs",
]

# row counts of queries that have no oracle, on the generated tables
PINNED_ROWS = {"minhash_dedup_pairs": 53}


@dataclass
class Inputs:
    """What a run's builders read: the generated tables, the seeded listing
    (as arrays and as a parquet file) and, when tracing, the accumulators
    the mapreduce bodies add to."""

    tables: Path
    listing: dict[str, np.ndarray]
    listing_path: Path
    counters: "UserFnCounters | None" = None


@dataclass
class Query:
    name: str
    build: Callable
    # "oracle" | "rows" | "expect"
    check: str
    expect: Callable[[Inputs], list[tuple]] | None = None


@dataclass
class UserFnCounters:
    """Spark accumulators summed over the benchmark's own map and reduce
    bodies: seconds inside them, reduce calls, and rows the maps emitted."""

    user_fn_s: object
    reduce_calls: object
    map_rows: object

    @classmethod
    def create(cls, sc) -> "UserFnCounters":
        return cls(sc.accumulator(0.0), sc.accumulator(0), sc.accumulator(0))

    def values(self) -> tuple[float, int, int]:
        return self.user_fn_s.value, self.reduce_calls.value, self.map_rows.value


def _registered(name: str, check: str) -> Query:
    def build(spark, inputs: Inputs):
        from mapreducefw_spark.queries import QUERIES

        return QUERIES[name](spark, str(inputs.tables))

    return Query(name, build, check)


# --- mapreduce jobs -------------------------------------------------------------
#
# Each body below is the user code of one job. When tracing, ``_counted``
# makes the body time itself and count its calls or emitted rows on the
# workers.


def _counted(fn, counters, counter: str):
    """``fn`` timed into ``counters.user_fn_s``. A map body adds the rows it
    emits to ``counters.map_rows``; a reduce body adds one call to
    ``counters.reduce_calls``."""
    if counters is None:
        return fn

    def counted(*args):
        t0 = time.perf_counter()
        out = fn(*args)
        if not isinstance(out, pd.DataFrame):
            out = list(out)
        counters.user_fn_s.add(time.perf_counter() - t0)
        if counter == "map_rows":
            counters.map_rows.add(len(out))
        else:
            counters.reduce_calls.add(1)
        return out

    return counted


def _per_batch(body):
    def map_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield body(pdf)

    return map_fn


def _search_map(pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({"k2": pdf["dir"], "v2": pdf["name"]})


def _search_reduce(pdf: pd.DataFrame) -> pd.DataFrame:
    hits = pdf[pdf["v2"].str.contains(datagen.SEARCH_TOKEN, regex=False)]
    return pd.DataFrame({"file": hits["v2"].to_numpy(), "dir": hits["k2"].to_numpy()})


def build_dir_search(spark, inputs: Inputs):
    """The Search client's shape: one reduce call per directory (many small
    groups), each keeping the files whose name holds the search token."""
    from mapreducefw_spark.plans.map_reduce import map_reduce

    c = inputs.counters
    return map_reduce(
        spark.read.parquet(str(inputs.listing_path)),
        _per_batch(_counted(_search_map, c, "map_rows")),
        _counted(_search_reduce, c, "reduce_calls"),
        map_schema="k2 string, v2 string",
        out_schema="file string, dir string",
        sort_cols=("file", "dir"),
    )


def expect_dir_search(inputs: Inputs) -> list[tuple]:
    df = pd.DataFrame(inputs.listing)
    hits = df[df["name"].str.contains(datagen.SEARCH_TOKEN, regex=False)]
    return sorted(zip(hits["name"], hits["dir"]))


def _tokens(names: pd.Series) -> pd.Series:
    return names.str.removesuffix(".dat").str.split("_").explode()


def _count_map(row: dict):
    for tok in row["name"].removesuffix(".dat").split("_"):
        yield {"k2": tok, "v2": 1}


def _count_reduce(key: tuple, pdf: pd.DataFrame):
    yield {"token": key[0], "n": int(pdf["v2"].sum())}


def build_token_count(spark, inputs: Inputs):
    """Word count over the Zipf-skewed name tokens through the per-row dict
    API: a few hot keys, so some reduce calls see many rows."""
    from mapreducefw_spark.plans.map_reduce import map_reduce_rows

    c = inputs.counters
    return map_reduce_rows(
        spark.read.parquet(str(inputs.listing_path)).select("name"),
        _counted(_count_map, c, "map_rows"),
        _counted(_count_reduce, c, "reduce_calls"),
        map_schema="k2 string, v2 bigint",
        out_schema="token string, n bigint",
        sort_cols=("token",),
    )


def expect_token_count(inputs: Inputs) -> list[tuple]:
    counts = _tokens(pd.Series(inputs.listing["name"])).value_counts()
    return sorted((str(k), int(v)) for k, v in counts.items())


RDD_FILES = 5_000


def _rdd_map(k1, name):
    return [(tok, 1) for tok in name.removesuffix(".dat").split("_")]


def _rdd_reduce(token, ones):
    return [(token, sum(ones))]


def build_rdd_token_count(spark, inputs: Inputs):
    """The RDD form: word count over the first ``RDD_FILES`` names through
    ``run_map_reduce``, which returns the collected result."""
    from mapreducefw_spark.plans.map_reduce_rdd import run_map_reduce

    c = inputs.counters
    items = list(enumerate(inputs.listing["name"][:RDD_FILES].tolist()))
    return run_map_reduce(
        spark,
        items,
        _counted(_rdd_map, c, "map_rows"),
        _counted(_rdd_reduce, c, "reduce_calls"),
    )


def expect_rdd_token_count(inputs: Inputs) -> list[tuple]:
    counts = _tokens(pd.Series(inputs.listing["name"][:RDD_FILES])).value_counts()
    return sorted((str(k), int(v)) for k, v in counts.items())


MAPREDUCE = [
    Query("mr_dir_search", build_dir_search, "expect", expect_dir_search),
    Query("mr_token_count", build_token_count, "expect", expect_token_count),
    Query("mr_rdd_token_count", build_rdd_token_count, "expect", expect_rdd_token_count),
]


@dataclass
class Workload:
    queries: list[Query]
    # passes after the first that are run but not measured
    warmup: int
    # steady passes a run makes even when the window is over
    min_steady: int


WORKLOADS: dict[str, Workload] = {
    "curation": Workload(
        [_registered(n, "rows" if n in PINNED_ROWS else "oracle") for n in CURATION],
        warmup=3,
        min_steady=3,
    ),
    "mapreduce": Workload(MAPREDUCE, warmup=0, min_steady=2),
}


def write_listing(listing: dict[str, np.ndarray], path: Path) -> Path:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "dir": listing["dir"].tolist(),
            "name": listing["name"].tolist(),
        }
    )
    pq.write_table(table, path)
    return path


# --- output checks --------------------------------------------------------------


@dataclass
class Checker:
    """Compares a query's collected output with its oracle, pin or pandas
    recomputation. Oracles run in DuckDB on the same generated tables through
    the project's ``tools/check_oracle.py`` comparator."""

    inputs: Inputs
    repo: Path
    _duck: object = field(default=None, init=False)
    _cmp: object = field(default=None, init=False)

    def _comparator(self):
        if self._cmp is None:
            import importlib.util

            spec = importlib.util.spec_from_file_location(
                "check_oracle", self.repo / "tools" / "check_oracle.py"
            )
            mod = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(mod)
            self._cmp = mod
            self._duck = mod.duck_connect(str(self.inputs.tables))
        return self._cmp

    def check(self, q: Query, result) -> str | None:
        """None when the output is right, else what is wrong."""
        if q.check == "expect":
            got = result if isinstance(result, list) else [tuple(r) for r in result.collect()]
            want = q.expect(self.inputs)
            if [tuple(r) for r in got] != want:
                return f"differs from the pandas recomputation ({len(got)} vs {len(want)} rows)"
            return None
        rows = [tuple(r) for r in result.collect()]
        if q.check == "rows":
            want = PINNED_ROWS[q.name]
            return None if len(rows) == want else f"{len(rows)} rows, pinned {want}"
        from mapreducefw_spark.queries import ORACLES

        cmp = self._comparator()
        res = self._duck.execute(ORACLES[q.name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        if sorted(result.columns) != sorted(dcols):
            return f"columns {sorted(result.columns)} vs oracle {sorted(dcols)}"
        if len(rows) != len(drows):
            return f"{len(rows)} rows vs oracle {len(drows)}"
        if cmp.normalize(rows, result.columns) != cmp.normalize(drows, dcols):
            return "values differ from the oracle"
        return None
