"""The benchmark's workloads: their inputs, operations and output checks.

A workload is a list of operations run one at a time by a single
driver thread (a closed loop with one client).  Each operation has a
cold form (first pass: its output is collected and checked) and a warm
form (later passes: the output goes to the same sink the program uses,
or to Spark's ``noop`` sink for registry queries).
"""

from __future__ import annotations

import collections
import glob
import math
import os
import shutil

import numpy as np
import pandas as pd

import gen

# Query subset of the dedup/graph family.  Each query pays one to four
# seconds of plan construction however small its input, so the
# family's ten queries (about 50 s cold, 30 s warm on 4 cores) do not
# fit the run budget.  These two cover the construction paths the
# roadmap targets: LSH edges plus one job and one eager pin per
# iteration (pagerank), and the LSH census, branch choice and rescore
# (adaptive near-dup).
DEDUP_GRAPH_QUERIES = ("pagerank_neardup", "dedup_lsh_neardup_auto")

#: Generator seed of the fixture-like tables (the fixtures use 42).
FIXTURE_SEED = 42

SIZES = {
    # (reference corpus files, bytes per file, documents rows).  4 MiB
    # of text is the size of the reference's own input/large corpus.
    "full": (16, 256 * 1024, 1000),
    "smoke": (8, 128 * 1024, 200),
}


class ReferenceMR:
    """The paper's own job pair, ``wc`` then ``ii``, over a generated
    text corpus with text output (``run_reference_job``)."""

    name = "reference_mr"
    CHECK_EVERY_PASS = True

    def prepare(self, data_dir: str, seed: int, size: str) -> int:
        n_files, file_bytes, _ = SIZES[size]
        self.corpus = os.path.join(data_dir, "corpus")
        self.out = os.path.join(data_dir, "out")
        input_bytes = _cached(self.corpus, lambda: gen.text_corpus(
            self.corpus, seed, n_files, file_bytes))
        self.expected = reference_outputs(self.corpus)
        return input_bytes

    def ops(self, seed: int) -> list[str]:
        return ["wc", "ii"]

    def run(self, spark, op: str, tracer, cold: bool):
        from grpc_map_reduce_spark.sinks.text import run_reference_job

        run_reference_job(spark, self.corpus, op, os.path.join(self.out, op))
        return None

    def check(self, op: str, result) -> str | None:
        got = []
        for path in sorted(glob.glob(os.path.join(self.out, op, "part-*"))):
            with open(path, encoding="utf-8") as fh:
                got.extend(fh.read().splitlines())
        want = self.expected[op]
        got.sort()
        if got == want:
            return None
        return f"{op}: {len(got)} lines, expected {len(want)}"


def reference_outputs(corpus_dir: str) -> dict[str, list[str]]:
    """Sorted output lines of the reference's ``wc`` and ``ii`` jobs,
    recomputed in pure Python: split on every non-letter rune
    (mapper.go:181), count per token (reducer.go:159-170), and list the
    sorted distinct files per token (reducer.go:172-186)."""
    counts: collections.Counter = collections.Counter()
    files: dict[str, set] = collections.defaultdict(set)
    for path in sorted(glob.glob(os.path.join(corpus_dir, "*"))):
        with open(path, encoding="utf-8") as fh:
            tokens = gen.LETTER_RUN.findall(fh.read())
        counts.update(tokens)
        name = os.path.basename(path)
        for t in set(tokens):
            files[t].add(name)
    wc = sorted(f"{w}: {c}" for w, c in counts.items())
    ii = sorted(f"{w}: {len(s)} {','.join(sorted(s))}" for w, s in files.items())
    return {"wc": wc, "ii": ii}


class RegistryWorkload:
    """Registered queries over generated fixture tables.  The cold pass
    collects each result and checks it against the query's DuckDB
    oracle; warm passes end in Spark's ``noop`` sink."""

    CHECK_EVERY_PASS = False

    def __init__(self, name: str, queries: tuple[str, ...]) -> None:
        self.name = name
        self.queries = queries

    def prepare(self, data_dir: str, seed: int, size: str) -> int:
        # The tables play the fixtures' role: one fixed table for every
        # run, as construction time varies with the data's near-dup
        # graph.  The seed permutes the query order.
        self.sf_dir = os.path.join(data_dir, "tables")
        path = os.path.join(self.sf_dir, "documents.parquet")
        return _cached(self.sf_dir, lambda: gen.documents(path, FIXTURE_SEED, SIZES[size][2]))

    def ops(self, seed: int) -> list[str]:
        order = np.random.default_rng([seed, 3]).permutation(len(self.queries))
        return [self.queries[i] for i in order]

    def run(self, spark, op: str, tracer, cold: bool):
        from grpc_map_reduce_spark import registry

        q = registry.all_queries()[op]
        with tracer.span("operators", op):
            df = q.spark_fn(spark, self.sf_dir)
        if cold:
            with tracer.span("exec", "toPandas"):
                return df.toPandas()
        df.write.format("noop").mode("overwrite").save()
        return None

    def check(self, op: str, result) -> str | None:
        import duckdb
        from grpc_map_reduce_spark import registry

        oracle = registry.all_queries()[op].oracle
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory='{self.sf_dir}/.duckdb_tmp'")
            for path in glob.glob(os.path.join(self.sf_dir, "*.parquet")):
                name = os.path.basename(path)[:-len(".parquet")]
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            if oracle is None:
                return None if result is not None and len(result) > 0 else "no rows"
            return frames_differ(result, con.execute(oracle).df())
        finally:
            con.close()


def frames_differ(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when two result frames hold the same rows (order-free,
    columns matched by name, floats within 1e-9)."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    cols = sorted(got.columns)
    got = got[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    want = want[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    for c in cols:
        a, b = got[c], want[c]
        if pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b):
            ok = all(_same_number(x, y) for x, y in zip(a.tolist(), b.tolist()))
        else:
            ok = a.astype(str).tolist() == b.astype(str).tolist()
        if not ok:
            return f"column {c} differs"
    return None


def _missing(x) -> bool:
    return x is None or x is pd.NA or (isinstance(x, float) and math.isnan(x))


def _same_number(x, y) -> bool:
    if _missing(x) or _missing(y):
        return _missing(x) and _missing(y)
    return math.isclose(float(x), float(y), rel_tol=1e-9, abs_tol=1e-9)


def _cached(out_dir: str, make) -> int:
    """Run ``make`` once per output directory; returns its byte count."""
    marker = os.path.join(out_dir, ".bytes")
    if os.path.exists(marker):
        with open(marker) as fh:
            return int(fh.read())
    shutil.rmtree(out_dir, ignore_errors=True)
    n = make()
    with open(marker, "w") as fh:
        fh.write(str(n))
    return n


WORKLOADS = {
    "reference_mr": ReferenceMR,
    "dedup_graph": lambda: RegistryWorkload("dedup_graph", DEDUP_GRAPH_QUERIES),
}
