"""Unit tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest benchmark/tests -q
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from curation import check_rows
from gen import tree_digest, write_corpus, write_etl
from nightly import compare_table
from spans import Tracer, covered, metric_value, self_time

# ---------------------------------------------------------------------------
# self-time arithmetic
# ---------------------------------------------------------------------------


def test_self_time_subtracts_union_of_children():
    # children overlap each other and stick out of the parent on both sides
    children = [(-1.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert covered(0.0, 10.0, children) == pytest.approx(3.0 + 1.0 + 1.0)
    assert self_time(0.0, 10.0, children) == pytest.approx(5.0)


def test_self_time_without_children_is_duration():
    assert self_time(2.0, 4.5, []) == pytest.approx(2.5)
    assert self_time(2.0, 4.5, [(5.0, 6.0)]) == pytest.approx(2.5)


def test_metric_value_parses_sql_metric_strings():
    assert metric_value("1,000") == 1000
    assert metric_value("24 ms") == pytest.approx(0.024)
    assert metric_value("8.5 KiB") == pytest.approx(8.5 * 1024)
    text = "total (min, med, max (stageId: taskId))\n13.9 s (2.8 s, 3.7 s, 3.9 s (stage 0.0: task 3))"
    assert metric_value(text) == pytest.approx(13.9)


# ---------------------------------------------------------------------------
# ID-range attribution
# ---------------------------------------------------------------------------


class _Opt:
    def __init__(self, v):
        self.v = v

    def isDefined(self):
        return self.v is not None

    def get(self):
        return self.v


class _Date:
    def __init__(self, s):
        self.s = s

    def getTime(self):
        return int(self.s * 1000)


class _Job:
    def __init__(self, t0, t1):
        self.t0, self.t1 = t0, t1

    def submissionTime(self):
        return _Opt(_Date(self.t0))

    def completionTime(self):
        return _Opt(_Date(self.t1))


class _Stage:
    def __init__(self, tasks):
        self.tasks = tasks

    def numCompleteTasks(self):
        return self.tasks

    def numFailedTasks(self):
        return 0

    def numKilledTasks(self):
        return 0

    def executorRunTime(self):
        return 1000 * self.tasks

    def executorCpuTime(self):
        return 10**9

    def shuffleWriteBytes(self):
        return 10

    def shuffleReadBytes(self):
        return 10

    def shuffleFetchWaitTime(self):
        return 0

    def memoryBytesSpilled(self):
        return 0

    def diskBytesSpilled(self):
        return 0


class _FakeEngine:
    """Stands in for the scheduler, listener bus and both status stores.

    ``retained`` mimics ``spark.ui.retainedJobs``/``retainedStages``: the
    oldest entries are evicted, so a list-length count would be wrong."""

    def __init__(self, retained: int):
        self.retained = retained
        self.jobs: dict[int, _Job] = {}
        self.stages: dict[int, _Stage] = {}
        self.next_job = self.next_stage = 0

    def run_job(self, stages: int, tasks: int) -> None:
        import time

        t = time.time()
        self.jobs[self.next_job] = _Job(t, t)
        self.next_job += 1
        for _ in range(stages):
            self.stages[self.next_stage] = _Stage(tasks)
            self.next_stage += 1
        for d in (self.jobs, self.stages):
            for k in sorted(d)[: max(0, len(d) - self.retained)]:
                del d[k]

    # scheduler / bus
    def nextJobId(self):
        return self.next_job

    def nextStageId(self):
        return self.next_stage

    def waitUntilEmpty(self):
        pass

    # status store
    def job(self, i):
        if i not in self.jobs:
            raise KeyError(i)
        return self.jobs[i]

    def lastStageAttempt(self, i):
        if i not in self.stages:
            raise KeyError(i)
        return self.stages[i]

    # SQL status store: no executions
    def executionsCount(self):
        return 0


def _tracer(engine) -> Tracer:
    t = Tracer(None, enabled=False)
    t.enabled = True
    t._dag = t._bus = t._store = t._sql = engine
    return t


def test_id_range_attribution_assigns_jobs_and_stages_to_spans():
    eng = _FakeEngine(retained=1000)
    eng.run_job(stages=5, tasks=1)  # before any span: owned by nobody
    t = _tracer(eng)
    with t.span("a"):
        eng.run_job(stages=2, tasks=3)
        eng.run_job(stages=1, tasks=4)
    eng.run_job(stages=7, tasks=1)  # between spans
    with t.span("b"):
        eng.run_job(stages=3, tasks=2)
    a, b = t.spans
    assert (a.counters["jobs"], a.counters["stages"], a.counters["tasks"]) == (2, 3, 10)
    assert (b.counters["jobs"], b.counters["stages"], b.counters["tasks"]) == (1, 3, 6)
    assert t.evicted == 0


def test_id_range_attribution_reports_evicted_entries():
    eng = _FakeEngine(retained=4)
    t = _tracer(eng)
    with t.span("big"):
        for _ in range(3):
            eng.run_job(stages=3, tasks=1)
    (sp,) = t.spans
    # 9 stages ran inside the span, 4 are still retained: the 5 evicted
    # ones are reported, not silently dropped from a list length
    assert sp.counters["stages"] == 4
    assert t.evicted == 5
    assert sp.ids1[1] - sp.ids0[1] == 9


# ---------------------------------------------------------------------------
# generator determinism
# ---------------------------------------------------------------------------


def test_corpus_is_byte_identical_per_seed(tmp_path):
    write_corpus(str(tmp_path / "a"), 7)
    write_corpus(str(tmp_path / "b"), 7)
    write_corpus(str(tmp_path / "c"), 8)
    assert tree_digest(str(tmp_path / "a")) == tree_digest(str(tmp_path / "b"))
    assert tree_digest(str(tmp_path / "a")) != tree_digest(str(tmp_path / "c"))


def test_etl_inputs_are_byte_identical_per_seed(tmp_path):
    a = write_etl(str(tmp_path / "a"), 3)
    b = write_etl(str(tmp_path / "b"), 3)
    c = write_etl(str(tmp_path / "c"), 4)
    assert a.days == b.days and a.rows == b.rows
    assert tree_digest(a.root) == tree_digest(b.root)
    assert tree_digest(a.root) != tree_digest(c.root)


def test_corpus_plants_near_duplicates_and_zipf_keys(tmp_path):
    write_corpus(str(tmp_path), 11)
    docs = pq.read_table(str(tmp_path / "documents.parquet")).column("text").to_pylist()
    bigrams = [set(zip(t.split(), t.split()[1:])) for t in docs]
    close = sum(
        1 for i in range(len(docs)) for j in range(i + 1, len(docs))
        if len(bigrams[i] & bigrams[j]) / len(bigrams[i] | bigrams[j]) >= 0.4
    )
    assert close >= 20
    cust = pq.read_table(str(tmp_path / "orders.parquet")).column("o_custkey").to_numpy()
    top = max((cust == k).sum() for k in set(cust.tolist()))
    assert top > 10 * len(cust) / 150  # the hottest customer is far above uniform


# ---------------------------------------------------------------------------
# output checkers catch a planted wrong row
# ---------------------------------------------------------------------------


def _write_partitioned(root, rows):
    tbl = pa.table({
        "id": pa.array([r[0] for r in rows], pa.int32()),
        "v": pa.array([r[1] for r in rows], pa.float64()),
        "t": pa.array([datetime(2022, 10, 1, 12, tzinfo=timezone.utc)] * len(rows),
                      pa.timestamp("us", tz="UTC")),
    })
    os.makedirs(f"{root}/etl_date=20221001", exist_ok=True)
    pq.write_table(tbl, f"{root}/etl_date=20221001/part-0.parquet")


def test_table_checker_catches_planted_wrong_row(tmp_path):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE exp AS SELECT * FROM (VALUES (1, 1.5), (2, 2.5), (2, 2.5)) v(id, v)")
    con.execute("CREATE OR REPLACE TABLE exp AS SELECT id, v, "
                "TIMESTAMPTZ '2022-10-01 12:00:00+00' AS t, '20221001' AS etl_date FROM exp")
    good, bad, short = tmp_path / "good", tmp_path / "bad", tmp_path / "short"
    _write_partitioned(good, [(2, 2.5), (1, 1.5), (2, 2.5)])
    _write_partitioned(bad, [(2, 2.5), (1, 1.5), (2, 2.6)])
    _write_partitioned(short, [(1, 1.5), (2, 2.5)])
    assert compare_table(con, f"{good}/*/*.parquet", "exp") is None
    assert "differ" in compare_table(con, f"{bad}/*/*.parquet", "exp")
    assert "rows got=2" in compare_table(con, f"{short}/*/*.parquet", "exp")


def test_row_checker_catches_planted_wrong_row():
    exp = (["a", "b"], [(1, 0.5), (2, 0.25)])
    assert check_rows(["b", "a"], [(0.25, 2), (0.5, 1)], *exp) is None
    assert "values differ" in check_rows(["a", "b"], [(1, 0.5), (2, 0.2500001)], *exp)
    assert "rows" in check_rows(["a", "b"], [(1, 0.5)], *exp)
    assert "schema" in check_rows(["a", "c"], [(1, 0.5), (2, 0.25)], *exp)
