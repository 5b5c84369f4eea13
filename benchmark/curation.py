"""curation: a fixed mix of registry queries over a seed-generated corpus.

Every item is ``QuerySpec.spark(spark, corpus_dir)`` followed by a sink.  The
cold first pass collects each result and compares it with the item's
``QuerySpec.oracle`` on DuckDB; warm passes write to the ``noop`` sink and
must reproduce the verified row count, which an ``Observation`` counts
without an extra job.  Oracle results are a pure function of the inputs, so
they are cached by item name and input digest.
"""

from __future__ import annotations

import os
import traceback
import pickle

import duckdb

from gen import tree_digest, write_corpus

# item -> the corpus table it reads; each stresses one operator family
ITEMS = {
    "a07_minhash_lsh_dedup": "documents",  # dedup: MinHash bands over Arrow, eager pins
    "a110_char_entropy": "documents",  # text: char explode + grouped folds
    "a141_price_decile_report": "lineitem",  # ordering: value-tile census
    "a20_sessionize": "events",  # windows over Zipf-skewed users
}


def _norm_cell(v):
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def norm_rows(cols: list[str], rows) -> list[tuple]:
    """Order-insensitive canonical form: columns sorted by name, cells
    normalised (floats by repr), rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return out


def check_rows(got_cols, got_rows, exp_cols, exp_rows) -> str | None:
    """``None`` when a result equals its oracle, else a one-line reason."""
    if sorted(got_cols) != sorted(exp_cols):
        return f"schema {sorted(got_cols)} != {sorted(exp_cols)}"
    if len(got_rows) != len(exp_rows):
        return f"rows {len(got_rows)} != {len(exp_rows)}"
    a, b = norm_rows(got_cols, got_rows), norm_rows(exp_cols, exp_rows)
    if a != b:
        i = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
        return f"values differ at sorted row {i}: {a[i]!r} != {b[i]!r}"
    return None


class Curation:
    name = "curation"
    module = "queries"
    nominal_pass_s = 6.0

    def __init__(self, work: str, seed: int, cache_dir: str):
        self.corpus = os.path.join(work, "corpus")
        sizes = write_corpus(self.corpus, seed)
        self.rows_per_pass = sum(sizes[t] for t in ITEMS.values())
        self.digest = tree_digest(self.corpus)
        self.cache_dir = cache_dir
        self.counts: dict[str, int] = {}
        self._prepare_oracles()

    def oracle(self, name: str, sql: str) -> tuple[list[str], list[tuple]]:
        path = os.path.join(self.cache_dir, f"{name}-{self.digest[:24]}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        con = duckdb.connect()
        for f in sorted(os.listdir(self.corpus)):
            t = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.corpus}/{f}'")
        cur = con.execute(sql)
        res = ([d[0] for d in cur.description], cur.fetchall())
        con.close()
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(res, f)
        os.replace(path + ".tmp", path)
        return res

    def _prepare_oracles(self) -> None:
        from bigdata_scala_offline_data_clean_spark.queries import all_queries

        specs = all_queries()
        self.specs = {n: specs[n] for n in ITEMS}
        self.expected = {n: self.oracle(n, s.oracle) for n, s in self.specs.items()}

    def cold_pass(self, spark, tracer):
        return self._pass(spark, tracer, verify=True)

    def warm_pass(self, spark, tracer):
        return self._pass(spark, tracer, verify=False)

    def check_cold(self) -> list[str]:
        return []  # each item is checked as soon as its rows are collected

    check_warm = check_cold

    def _pass(self, spark, tracer, verify: bool) -> tuple[list[tuple[str, float]], list[str]]:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        items, failed = [], []
        for name, spec in self.specs.items():
            # isolate items: drop cached blocks and collect pinned RDDs
            spark.catalog.clearCache()
            spark._jvm.System.gc()
            seconds, df = 0.0, None
            try:
                with tracer.span(f"{self.module}.build") as b:
                    df = spec.spark(spark, self.corpus)
                seconds += b.seconds
                if verify:
                    with tracer.span(f"{self.module}.exec") as x:
                        rows = df.collect()
                    seconds += x.seconds
                    why = check_rows(df.columns, rows, *self.expected[name])
                    if why is None:
                        self.counts[name] = len(rows)
                else:
                    obs = Observation()
                    counted = df.observe(obs, F.count(F.lit(1)).alias("n"))
                    with tracer.span(f"{self.module}.exec") as x:
                        counted.write.format("noop").mode("overwrite").save()
                    seconds += x.seconds
                    n = obs.get["n"]
                    why = None if n == self.counts.get(name) else (
                        f"{n} rows, verified {self.counts.get(name)}")
                if why:
                    failed.append(f"{name}: {why}")
            except Exception as e:  # an item that raises is a failed item
                traceback.print_exc()
                failed.append(f"{name}: {type(e).__name__}: {e}")
            items.append((name, seconds))
            if df is not None:
                tracer.plan_phases(df)
        return items, failed
