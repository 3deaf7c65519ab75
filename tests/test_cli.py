"""CLI tests (main() invoked in-process; the CLI surface itself is also
driven as a subprocess in the verify flow)."""

from __future__ import annotations

import json

import pytest

from era_parser_spark.cli import main
from era_parser_spark.testing.era_gen import era_filename, write_synthetic_era


@pytest.fixture(scope="module")
def era_dir(tmp_path_factory, spark):
    # `spark` fixture ensures the CLI's getOrCreate reuses the test session
    d = tmp_path_factory.mktemp("cli_eras")
    for era in (1300, 1301):
        write_synthetic_era(str(d / era_filename("gnosis", era)), era, "gnosis", blocks=10)
    return str(d)


def test_parse_separate(era_dir, tmp_path, capsys):
    out = str(tmp_path / "out")
    assert main(["parse", era_dir, "all-blocks", out, "--separate"]) == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["written"]["blocks"] == 18  # 2 eras x 10 slots, every 9th missing
    assert "attestations" in payload["written"]


def test_parse_stages_instead_of_caching(spark, era_dir, tmp_path, capsys):
    """parse reads the decoded blocks back from a staging parquet it then
    deletes — no cache(): no RDD is left persisted, no staging dir left."""
    import os

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    out = str(tmp_path / "staged")
    assert main(["parse", era_dir, "all-blocks", out]) == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["written"]["blocks"] == 18
    assert persisted() <= before
    assert not os.path.exists(os.path.join(out, "_staging_blocks"))


def test_parse_single_table_csv(era_dir, tmp_path, capsys):
    out = str(tmp_path / "wd")
    assert main(["parse", era_dir, "withdrawals", out, "--format", "csv"]) == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(payload["written"]) == {"withdrawals"}


def test_parse_unknown_table(era_dir, tmp_path, capsys):
    assert main(["parse", era_dir, "nonsense", str(tmp_path / "x")]) == 2
    assert "unknown table" in capsys.readouterr().err


def test_stats(era_dir, capsys):
    assert main(["stats", era_dir]) == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert {r["era_number"] for r in lines} == {1300, 1301}
    assert all(r["block_count"] == 9 for r in lines)


def test_block_lookup(era_dir, capsys):
    slot = 1300 * 8192
    path = f"{era_dir}/{era_filename('gnosis', 1300)}"
    assert main(["block", path, str(slot)]) == 0
    doc = json.loads(capsys.readouterr().out)
    assert doc["data"]["message"]["slot"] == str(slot)
    assert doc["version"] == "capella"


def test_block_lookup_missing(era_dir, capsys):
    path = f"{era_dir}/{era_filename('gnosis', 1300)}"
    assert main(["block", path, "12345"]) == 1
    assert "not found" in capsys.readouterr().err


def test_batch_and_state_commands(era_dir, tmp_path, capsys):
    out = str(tmp_path / "wh")
    state = str(tmp_path / "state")
    assert main(["batch", era_dir, out, "--state", state,
                 "--tables", "blocks,withdrawals"]) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(first) == {"1300", "1301"}

    assert main(["era-status", "--state", state]) == 0
    status = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert status[0]["status"] == "completed" and status[0]["era_count"] == 2

    assert main(["era-check", "--state", state, "1300"]) == 0
    check = json.loads(capsys.readouterr().out)
    assert check["status"] == "completed"

    assert main(["era-failed", "--state", state]) == 0
    assert capsys.readouterr().out.strip() == ""

    # re-run skips everything
    assert main(["batch", era_dir, out, "--state", state,
                 "--tables", "blocks,withdrawals"]) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1]) == {}


def test_sql_views(spark, era_dir, tmp_path):
    """spark.sql over registered synthetic + warehouse views."""
    from era_parser_spark.sql import register_synthetic_views, register_warehouse_views
    from tests.conftest import SF_MED

    register_synthetic_views(spark, SF_MED)
    row = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT user_id) AS u FROM events"
    ).first()
    assert row.n == 10000 and row.u == 150

    out = str(tmp_path / "wh_sql")
    state = str(tmp_path / "state_sql")
    assert main(["batch", era_dir, out, "--state", state, "--tables", "blocks"]) == 0
    views = register_warehouse_views(spark, out)
    assert "blocks" in views
    got = spark.sql("SELECT count(*) AS n FROM blocks").first().n
    assert got == 18


def test_migrate_cli(spark, era_dir, tmp_path, capsys):
    out = str(tmp_path / "wh_mig")
    state = str(tmp_path / "state_mig")
    assert main(["batch", era_dir, out, "--state", state, "--tables", "blocks"]) == 0
    capsys.readouterr()

    assert main(["migrate", "status", out]) == 0
    status = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert status[0] == {"version": 1, "name": "blocks_add_graffiti_text", "status": "pending"}

    assert main(["migrate", "run", out]) == 0
    assert json.loads(capsys.readouterr().out.strip())["applied"] == [1]
    assert "graffiti_text" in spark.read.parquet(f"{out}/blocks").columns

    assert main(["migrate", "run", out]) == 0  # idempotent
    assert json.loads(capsys.readouterr().out.strip())["applied"] == []


def test_parse_json_document_format(era_dir, tmp_path, capsys):
    """--format json writes the reference json_exporter's wrapped document
    ({era_info, data_type, record_count, export_timestamp, data})."""
    out = str(tmp_path / "doc")
    assert main(["parse", era_dir, "blocks", out, "--format", "json"]) == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["written"]["blocks"] == 18
    doc = json.load(open(f"{out}/blocks.json"))
    assert doc["data_type"] == "blocks"
    assert doc["record_count"] == 18 and len(doc["data"]) == 18
    assert {"era_info", "export_timestamp"} <= set(doc)
    slots = sorted(r["slot"] for r in doc["data"])
    assert len(set(slots)) == 18
    assert all(s // 8192 in (1300, 1301) for s in slots)


def test_query_cli(era_dir, tmp_path, capsys):
    """`query` answers SQL over a written warehouse (print + file output)."""
    out = str(tmp_path / "wh_q")
    state = str(tmp_path / "state_q")
    assert main(["batch", era_dir, out, "--state", state, "--tables", "blocks"]) == 0
    capsys.readouterr()

    assert main(["query", out,
                 "SELECT count(*) AS n, min(slot) AS lo, max(slot) AS hi FROM blocks"]) == 0
    row = json.loads(capsys.readouterr().out.strip())
    assert row["n"] == 18 and row["lo"] == 1300 * 8192

    dest = str(tmp_path / "q_out")
    assert main(["query", out, "SELECT slot, proposer_index FROM blocks",
                 "--output", dest, "--format", "jsonl"]) == 0
    import glob as _g
    lines = []
    for f in set(_g.glob(f"{dest}/*.json") + _g.glob(f"{dest}/part-*")):
        lines += [ln for ln in open(f).read().splitlines() if ln.strip()]
    assert len(lines) == 18

    # empty warehouse -> clean error, not a stack trace
    assert main(["query", str(tmp_path / "nope"), "SELECT 1"]) == 2


def test_batch_exclusive_lock(era_dir, tmp_path, capsys):
    """--exclusive takes the state lock; a held lock fails the run fast."""
    from era_parser_spark.session import get_spark
    from era_parser_spark.state.era_state import EraStateStore, StateLockHeld

    import pytest

    out = str(tmp_path / "wh_x")
    state = str(tmp_path / "state_x")
    assert main(["batch", era_dir, out, "--state", state,
                 "--tables", "blocks", "--exclusive"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(res) == {"1300", "1301"}  # lock released after success

    store = EraStateStore(get_spark(app_name="test"), state)
    store.acquire_lock(owner="other-driver")
    try:
        with pytest.raises(StateLockHeld):
            main(["batch", era_dir, out, "--state", state,
                  "--tables", "blocks", "--exclusive", "--force"])
    finally:
        store.release_lock()


def test_compact_data_cli(era_dir, tmp_path, capsys):
    out = str(tmp_path / "wh_cd")
    state = str(tmp_path / "state_cd")
    # a batch, then a forced re-run that overwrites the same era partitions
    # (each partition ends with one batch's files, so partitions below the
    # compaction threshold may be skipped; this pins the CLI round trip)
    assert main(["batch", era_dir, out, "--state", state,
                 "--tables", "blocks"]) == 0
    assert main(["batch", era_dir, out, "--state", state,
                 "--tables", "blocks", "--force"]) == 0
    capsys.readouterr()
    assert main(["compact-data", out, "--tables", "blocks"]) == 0
    rep = json.loads(capsys.readouterr().out.strip())
    assert "compacted" in rep  # shape; partitions below threshold may skip


def test_parse_slot_range(era_dir, tmp_path, capsys):
    """--slots engages the two-level pushdown through the public CLI."""
    out = str(tmp_path / "slots_out")
    lo = 1301 * 8192
    assert main(["parse", era_dir, "blocks", out, "--slots", f"{lo}:{lo + 3}"]) == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["written"]["blocks"] == 4  # slots lo..lo+3, none missing


def test_slice_era_roundtrip(era_dir, tmp_path, capsys):
    """slice: extracted range re-parses identically and passes validation."""
    from era_parser_spark.parsing.e2store import era_stats
    from era_parser_spark.parsing.beacon import parse_block
    from era_parser_spark.parsing.e2store import iter_blocks

    src = f"{era_dir}/{era_filename('gnosis', 1300)}"
    lo = 1300 * 8192 + 2
    out = str(tmp_path / "sliced.era")
    assert main(["slice", src, f"{lo}:{lo + 4}", out]) == 0
    rep = json.loads(capsys.readouterr().out.strip())
    assert rep["blocks"] == 5  # slots lo..lo+4 present in the fixture

    stats = era_stats(open(out, "rb").read())
    assert stats["block_count"] == 5
    assert stats["min_slot"] == lo and stats["max_slot"] == lo + 4
    # block content survives the re-encode byte-exactly
    orig = {s: raw for s, _, raw in
            iter_blocks(open(src, "rb").read(), slot_range=(lo, lo + 4))}
    got = {s: raw for s, _, raw in iter_blocks(open(out, "rb").read())}
    assert got == orig
    assert main(["validate", out, "--glob", "*.era"]) == 0

    assert main(["slice", src, "1:2", str(tmp_path / "empty.era")]) == 1


def test_explain_summary_and_unknown(capsys):
    assert main(["explain", "e01_filter_project"]) == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["query"] == "e01_filter_project"
    assert any("l_shipdate" in f for f in payload["pushed_filters"])
    assert payload["shuffles"] == 0
    assert main(["explain", "e01_filter"]) == 2  # unknown name -> error exit
