"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The first group needs no Spark and runs in seconds.  The last group runs the
benchmark command itself (a Spark session per run, about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import spans  # noqa: E402
import workloads  # noqa: E402
from workloads import Backfill, BeaconQueries, percentile  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
E2E = [m["name"] for m in SPEC["end_to_end"]]
PER_LAYER = [m["name"] for m in SPEC["per_layer"]]


class FakeCtx:
    seed = 1
    seconds = 1
    cpus = 4
    spark = None


# -- metric names --------------------------------------------------------------


def test_end_to_end_names_match_benchmark_json():
    bf = Backfill(FakeCtx())
    bf_res = {"backfill": ({2610: {"blocks": 10}}, 2.0), "ticks": [({}, {}, 1.5)],
              "noops": [({}, 0.5), ({}, 0.4)]}
    bq = BeaconQueries(FakeCtx())
    bq_res = {"lat": [(("missing_slots", None), 0.3), (("lookup_block", 5), 0.1)], "wall": 0.5}
    runner = {"setup_s", "peak_rss_mb"}
    for wl, res in ((bf, bf_res), (bq, bq_res)):
        got = set(wl.end_to_end(res)) - {"samples"}
        assert runner | got == set(E2E), type(wl).__name__


def test_per_layer_names_cover_every_beacon_call():
    from era_parser_spark.operators.beacon_analytics import BEACON_QUERIES

    calls = [*BEACON_QUERIES, "lookup_block", "validator_slashed_lookup"]
    for c in calls:
        assert f"beacon.{c}_s" in PER_LAYER
    assert len(PER_LAYER) == len(set(PER_LAYER))


def test_workload_names_match_benchmark_json():
    assert sorted(workloads.WORKLOADS) == sorted(w["name"] for w in SPEC["workloads"])


# -- small pieces --------------------------------------------------------------


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile([3.0], 90) == 3.0
    assert percentile([1.0, 2.0], 50) == 1.0


def test_self_time_subtracts_union_of_children():
    tr = spans.Tracer(None)
    mk = lambda i, p, start: spans.Span(i, f"s{i}", p, start)  # noqa: E731
    root, c1, c2 = mk(0, None, 0), mk(1, 0, 1), mk(2, 0, 3)
    root.end, c1.end, c2.end = 10.0, 4.0, 6.0
    tr.spans = [root, c1, c2]
    assert tr.self_time(root) == pytest.approx(10 - 5)  # [1, 6] covered
    assert tr.total("s1") == pytest.approx(3)


# -- planted wrong results fail the checks --------------------------------------


def _write_table(path: str, era: int, n: int, cols: dict | None = None) -> None:
    part = os.path.join(path, f"era_number={era}")
    os.makedirs(part, exist_ok=True)
    data = cols or {"slot": list(range(n))}
    pq.write_table(pa.table(data), os.path.join(part, "part-0.parquet"))


def _backfill_fixture(tmp_path, extra_block_rows: int = 0):
    tables = workloads._tables()
    rows = {t: 2 for t in tables}
    era = 2610
    work = tmp_path / "pass0"
    for t in tables:
        _write_table(str(work / "wh" / t), era, rows[t] + (extra_block_rows if t == "blocks" else 0))
    os.makedirs(work / "state")
    pq.write_table(
        pa.table({"era_number": [era, era], "status": ["processing", "completed"],
                  "insert_version": [1, 2]}),
        str(work / "state" / "part-0.parquet"),
    )
    bf = Backfill(FakeCtx())
    bf.corpus = {"eras": [{"era": era, "rows": rows}], "held": []}
    snap = workloads.tree_files(str(work))
    res = {"work": str(work), "backfill": ({era: dict(rows)}, 1.0), "ticks": [],
           "noops": [({}, 0.1)], "snap": {"before": snap, "after": dict(snap)}}
    return bf, res


def test_backfill_checks_pass_on_matching_warehouse(tmp_path):
    bf, res = _backfill_fixture(tmp_path)
    bf._check_rows(res)
    bf._check_state(res)
    bf._check_noop(res)


def test_planted_extra_row_fails_backfill_row_check(tmp_path):
    bf, res = _backfill_fixture(tmp_path, extra_block_rows=1)
    with pytest.raises(workloads.CheckFailed, match="blocks"):
        bf._check_rows(res)


def test_planted_write_during_noop_fails(tmp_path):
    bf, res = _backfill_fixture(tmp_path)
    res["snap"]["after"]["wh/blocks/extra.parquet"] = (1, 1)
    with pytest.raises(workloads.CheckFailed, match="no-op"):
        bf._check_noop(res)


def test_planted_tick_of_wrong_era_fails(tmp_path):
    bf, res = _backfill_fixture(tmp_path)
    res["ticks"] = [({"era": 2611}, {2610: {}, 2611: {}}, 1.0)]
    with pytest.raises(workloads.CheckFailed, match="tick"):
        bf._check_tick(res)


class _Rows:
    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


def _beacon_fixture(tmp_path, planted: bool):
    import datetime

    ts = [datetime.datetime(2025, 1, 1, 0, 0, i) for i in range(4)]
    wh = tmp_path / "wh"
    _write_table(str(wh / "blocks"), 2610, 4,
                 {"slot": [1, 2, 3, 4], "proposer_index": [7, 7, 8, 9], "timestamp_utc": ts})
    want = [(7, 2, ts[0], ts[1]), (8, 1, ts[2], ts[2]), (9, 1, ts[3], ts[3])]
    if planted:
        want[0] = (7, 3, ts[0], ts[1])
    bq = BeaconQueries(FakeCtx())
    bq.wh = str(wh)
    bq.collected = {("blocks_per_proposer", None): _Rows(
        ["proposer_index", "blocks_proposed", "first_block", "last_block"], want)}
    return bq


def test_beacon_check_passes_on_oracle_rows(tmp_path):
    bq = _beacon_fixture(tmp_path, planted=False)
    bq.check()
    assert bq.failures == [] and bq.attempted == 1


def test_planted_wrong_query_result_fails_beacon_check(tmp_path):
    bq = _beacon_fixture(tmp_path, planted=True)
    bq.check()
    assert len(bq.failures) == 1 and "blocks_per_proposer" in bq.failures[0]


# -- the command itself ---------------------------------------------------------


def test_bare_directory_exits_nonzero_without_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    p = subprocess.run(
        [*SPEC["command"], "--workload", "backfill", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert "{" not in p.stdout


def _run(workload: str, trace: int, prelude: str = "") -> tuple[int, dict]:
    code = (
        "import sys; sys.path.insert(0, 'perfbench'); import run, workloads\n"
        f"{prelude}\n"
        f"sys.exit(run.main(['--workload', '{workload}', '--seed', '3', "
        f"'--seconds', '1', '--trace', '{trace}']))"
    )
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else {}


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_command_prints_every_metric(workload, trace):
    code, out = _run(workload, trace)
    assert code == 0 and out["correct"] and out["failed"] == 0
    assert list(out["metrics"]) == (PER_LAYER if trace else E2E)
    for name, m in out["metrics"].items():
        assert isinstance(m["value"], float), name
        if not trace:
            assert m["value"] > 0, name


def test_planted_wrong_result_makes_the_command_fail():
    prelude = (
        "orig = workloads._Collected.__init__\n"
        "def planted(self, df):\n"
        "    orig(self, df)\n"
        "    if 'blocks_proposed' in self.columns and self._rows:\n"
        "        self._rows = self._rows[1:]\n"
        "workloads._Collected.__init__ = planted"
    )
    code, out = _run("beacon_queries", 0, prelude)
    assert code != 0
    assert out["correct"] is False and out["failed"] >= 1
