"""nightly_etl: the 12 reference jobs as one two-day ODS -> DWD -> DWS chain.

A night runs ``pipelines.JOBS`` in A -> B -> C -> D order for one etl_date.
Night 1 is the full extract, night 2 a ~10 % increment that rewrites
existing SCD-1 keys.  A and C append, so every pass starts from a fresh
copy of its warehouse; a night's ODS partitions "arrive" (are copied in)
outside the timed interval.

The check recomputes archetypes A-D in DuckDB from the generated ODS files
and compares every DWD/DWS table as a multiset of rows, with the audit
timestamps pinned through ``run_job(ts=...)``.
"""

from __future__ import annotations

import os
import traceback
import shutil

import duckdb

from gen import DELTA_REGEX_DATE, DELTA_TABLES, EtlInputs, write_etl

USER = "user1"


def pinned_ts(day: str) -> str:
    return f"{day[:4]}-{day[4:6]}-{day[6:]} 12:00:00"


# ---------------------------------------------------------------------------
# DuckDB recomputation of the four archetypes
# ---------------------------------------------------------------------------


def _cols(con, rel: str) -> list[str]:
    return [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()]


def _q(c: str) -> str:
    return '"' + c + '"'


def _audit(layer: str, day: str) -> str:
    ts = f"TIMESTAMPTZ '{pinned_ts(day)}+00'"
    return (f"'{USER}' AS {layer}_insert_user, {ts} AS {layer}_insert_time, "
            f"'{USER}' AS {layer}_modify_user, {ts} AS {layer}_modify_time")


def build_expected(con, inputs: EtlInputs, upto_day: int) -> dict[str, str]:
    """Create ``exp_<layer>_<table>`` tables holding the expected state after
    ``upto_day`` (1 or 2); returns ``{"<layer>.<table>": relation}``."""
    from bigdata_scala_offline_data_clean_spark.pipelines import JOBS

    root, days = inputs.root, inputs.days
    out: dict[str, str] = {}

    def ods(t: str, i: int) -> str:
        return f"read_parquet('{root}/ods_day{i}/{t}/*/*.parquet', hive_partitioning = false)"

    for cfg in JOBS.values():
        if cfg.archetype == "D":
            continue
        rel = f"exp_dwd_{cfg.dwd_table}"
        cols = _cols(con, ods(cfg.ods_table, 1))
        plain = ", ".join(_q(c) for c in cols)
        parts = []
        if cfg.archetype == "A":
            for i in range(1, upto_day + 1):
                parts.append(f"SELECT {plain}, {_audit('dwd', days[i - 1])}, "
                             f"'{days[i - 1]}' AS etl_date FROM {ods(cfg.ods_table, i)}")
        elif cfg.archetype == "C":
            key = cfg.merge_col
            for i in range(1, upto_day + 1):
                delta = (f"(SELECT * FROM read_parquet('{root}/delta_day{i}/"
                         f"{DELTA_TABLES[cfg.ods_table]}/*.parquet', hive_partitioning = false) "
                         f"WHERE regexp_matches(row_key, '{cfg.rowkey_regex}'))")
                merged = ", ".join(f"coalesce(b.{_q(c)}, d.{_q(c)}) AS {_q(c)}" for c in cols)
                parts.append(f"SELECT {merged}, {_audit('dwd', days[i - 1])}, "
                             f"'{days[i - 1]}' AS etl_date FROM {ods(cfg.ods_table, i)} b "
                             f"FULL OUTER JOIN {delta} d ON b.{_q(key)} = d.{_q(key)}")
        else:  # B: SCD-1, one partition per day
            key, order = cfg.merge_col, cfg.order_by_col
            prev = None
            for i in range(1, upto_day + 1):
                day = days[i - 1]
                ts = f"TIMESTAMPTZ '{pinned_ts(day)}+00'"
                cand = (f"SELECT {plain}, 'ods' AS src, {ts} AS ins, {ts} AS mod "
                        f"FROM {ods(cfg.ods_table, i)}")
                if prev is not None:
                    cand += (f" UNION ALL SELECT {plain}, 'dwd', dwd_insert_time, "
                             f"dwd_modify_time FROM ({prev})")
                part = (f"SELECT {plain}, '{USER}' AS dwd_insert_user, ins AS dwd_insert_time, "
                        f"'{USER}' AS dwd_modify_user, mod AS dwd_modify_time, "
                        f"'{day}' AS etl_date FROM ({cand}) QUALIFY row_number() OVER "
                        f"(PARTITION BY {_q(key)} ORDER BY {_q(order)} DESC, src DESC) = 1")
                parts.append(part)
                prev = part
        con.execute(f"CREATE OR REPLACE TABLE {rel} AS " + " UNION ALL ".join(parts))
        out[f"dwd.{cfg.dwd_table}"] = rel

    # D: anchor LEFT JOIN dims, colliding non-key dim columns -> <table>_<col>
    for cfg in (c for c in JOBS.values() if c.archetype == "D"):
        anchor = f"exp_{cfg.anchor[0]}_{cfg.anchor[1]}"
        seen = [c for c in _cols(con, anchor) if c != "etl_date"]
        select = [f"f.{_q(c)}" for c in seen]
        joins = []
        for n, (layer, tbl, key) in enumerate(cfg.dims):
            dcols = [c for c in _cols(con, f"exp_{layer}_{tbl}") if c != "etl_date"]
            for c in dcols:
                if c == key:
                    continue
                alias = f"{tbl}_{c}" if c in seen else c
                select.append(f"d{n}.{_q(c)} AS {_q(alias)}")
            seen += [f"{tbl}_{c}" if c in seen and c != key else c for c in dcols]
            joins.append(f"LEFT JOIN exp_{layer}_{tbl} d{n} ON f.{_q(key)} = d{n}.{_q(key)}")
        day = days[upto_day - 1]
        rel = f"exp_dws_{cfg.dws_table}"
        con.execute(
            f"CREATE OR REPLACE TABLE {rel} AS SELECT {', '.join(select)}, "
            f"{_audit('dws', day)}, '{day}' AS etl_date FROM {anchor} f " + " ".join(joins))
        out[f"dws.{cfg.dws_table}"] = rel
    return out


def compare_table(con, got_glob: str, expected: str) -> str | None:
    """Multiset comparison of a Spark-written table with an expected
    relation.  Returns ``None`` on a match, else a one-line reason."""
    got = (f"(SELECT * REPLACE (CAST(etl_date AS VARCHAR) AS etl_date) "
           f"FROM read_parquet('{got_glob}', hive_partitioning = true))")
    gcols, ecols = sorted(_cols(con, got)), sorted(_cols(con, expected))
    if gcols != ecols:
        return f"columns differ: {sorted(set(gcols) ^ set(ecols))}"
    sel = ", ".join(_q(c) for c in gcols)
    n_got = con.execute(f"SELECT count(*) FROM {got}").fetchone()[0]
    n_exp = con.execute(f"SELECT count(*) FROM {expected}").fetchone()[0]
    diff = con.execute(
        f"SELECT count(*) FROM ((SELECT {sel} FROM {got} EXCEPT ALL SELECT {sel} FROM {expected})"
        f" UNION ALL (SELECT {sel} FROM {expected} EXCEPT ALL SELECT {sel} FROM {got}))"
    ).fetchone()[0]
    if n_got != n_exp or diff:
        return f"rows got={n_got} expected={n_exp}, {diff} rows differ"
    return None


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------


class NightlyEtl:
    """Night 1 (the full extract) is the cold pass, on a fresh warehouse.
    Every warm pass replays night 2 (the increment) on a copy of the
    verified post-night-1 warehouse, so each one does identical work."""

    name = "nightly_etl"
    module = "pipelines"
    nominal_pass_s = 6.0

    def __init__(self, work: str, seed: int, cache_dir: str):
        self.work = work
        self.inputs = write_etl(os.path.join(work, "input"), seed)
        self.con = duckdb.connect()
        self.counts: dict[str, int] | None = None
        self.rows_per_pass = self.inputs.rows[1]
        self.wh_root = os.path.join(work, "warehouse")
        self.night1 = os.path.join(work, "after_night1")

    def _tables(self) -> list[str]:
        from bigdata_scala_offline_data_clean_spark.pipelines import JOBS

        return [f"dwd.{c.dwd_table}" if c.archetype != "D" else f"dws.{c.dws_table}"
                for c in JOBS.values()]

    def _glob(self, qualified: str) -> str:
        layer, table = qualified.split(".")
        return f"{self.wh_root}/{layer}/{table}/*/*.parquet"

    def verify(self, night: int) -> list[str]:
        """Full check of every output table against DuckDB after ``night``."""
        exp = build_expected(self.con, self.inputs, night)
        bad = []
        for t in self._tables():
            why = compare_table(self.con, self._glob(t), exp[t])
            if why:
                bad.append(f"night{night} {t}: {why}")
        return bad

    def row_counts(self) -> dict[str, int]:
        return {
            t: self.con.execute(f"SELECT count(*) FROM read_parquet('{self._glob(t)}')"
                                ).fetchone()[0]
            for t in self._tables()
        }

    def _night(self, spark, tracer, night: int) -> tuple[list[tuple[str, float]], list[str]]:
        """The 12 jobs in A -> B -> C -> D order for one etl_date."""
        from pyspark.sql import functions as F

        from bigdata_scala_offline_data_clean_spark.pipelines import JOBS, run_job
        from bigdata_scala_offline_data_clean_spark.sources.catalog import Warehouse

        day = self.inputs.days[night - 1]
        # the night's ODS partitions arrive
        shutil.copytree(os.path.join(self.inputs.root, f"ods_day{night}"),
                        f"{self.wh_root}/ods", dirs_exist_ok=True)
        wh = Warehouse(spark, self.wh_root)
        ts = F.lit(pinned_ts(day)).cast("timestamp")
        delta_root = os.path.join(self.inputs.root, f"delta_day{night}")
        items, failed = [], []
        for arch in "ABCD":
            for cfg in (c for c in JOBS.values() if c.archetype == arch):
                try:
                    with tracer.span(f"{self.module}.{arch}.day{night}") as sp:
                        got = run_job(wh, cfg.name, delta_root=delta_root, ts=ts,
                                      etl_date=day)
                    if got != day:
                        failed.append(f"{cfg.name}: processed {got}, expected {day}")
                except Exception as e:  # an item that raises is a failed item
                    traceback.print_exc()
                    failed.append(f"{cfg.name}: {type(e).__name__}: {e}")
                items.append((f"{cfg.name}.day{night}", sp.seconds))
        return items, failed

    def cold_pass(self, spark, tracer):
        shutil.rmtree(self.wh_root, ignore_errors=True)
        return self._night(spark, tracer, 1)

    def check_cold(self) -> list[str]:
        bad = self.verify(1)
        shutil.copytree(self.wh_root, self.night1)
        return bad

    def warm_pass(self, spark, tracer):
        shutil.rmtree(self.wh_root, ignore_errors=True)
        shutil.copytree(self.night1, self.wh_root)
        return self._night(spark, tracer, 2)

    def check_warm(self) -> list[str]:
        """The first warm pass gets the full check; later ones must
        reproduce its row counts."""
        counts = self.row_counts()
        if self.counts is None:
            bad = self.verify(2)
            if not bad:
                self.counts = counts
            return bad
        return [] if counts == self.counts else [f"row counts {counts} != {self.counts}"]

    def delta_kept_ratio(self, spark) -> float:
        """Rows the rowkey regex keeps / rows scanned, over both nights' deltas."""
        from bigdata_scala_offline_data_clean_spark.sources.delta_snapshot import (
            read_delta_snapshot,
        )

        kept = scanned = 0
        for d in (1, 2):
            for snap in DELTA_TABLES.values():
                path = os.path.join(self.inputs.root, f"delta_day{d}", snap)
                kept += read_delta_snapshot(spark, path, f".*{DELTA_REGEX_DATE}.*").count()
                scanned += spark.read.parquet(path).count()
        return kept / scanned
