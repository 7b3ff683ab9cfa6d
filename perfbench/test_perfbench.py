"""Self-tests of the benchmark (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py

The last test starts Spark and takes a minute or two; the others do not.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import compare  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from workloads import DashboardReads, MedallionEtl, Record  # noqa: E402


def _oracle_output(sf_dir: str, name: str):
    from spotify_tracks_etl_portfolio_spark.plans import all_queries

    con = duckdb.connect()
    for t in os.listdir(sf_dir):
        con.execute(f"CREATE VIEW {t.split('.')[0]} AS SELECT * FROM read_parquet('{sf_dir}/{t}')")
    tbl = con.execute(all_queries()[name].oracle).fetch_arrow_table()
    cols = list(tbl.column_names)
    return cols, [tuple(d[c] for c in cols) for d in tbl.to_pylist()]


def test_generators_are_seeded(tmp_path):
    a = gen.make_sf_tables(str(tmp_path / "a"), 7, 0.001)
    b = gen.make_sf_tables(str(tmp_path / "b"), 7, 0.001)
    assert a == b
    for t in a:
        assert (tmp_path / "a" / f"{t}.parquet").read_bytes() == \
            (tmp_path / "b" / f"{t}.parquet").read_bytes()
    ea = gen.make_etl_inputs(str(tmp_path / "ea"), 7, 500, 100, 2, 100, 20)
    eb = gen.make_etl_inputs(str(tmp_path / "eb"), 7, 500, 100, 2, 100, 20)
    assert Path(ea.csv_base).read_bytes() == Path(eb.csv_base).read_bytes()
    assert ea.input_bytes == eb.input_bytes


def test_etl_inputs_cover_the_dirty_data_conditions(tmp_path):
    inp = gen.make_etl_inputs(str(tmp_path), 3, 2000, 500, 2, 500, 100)
    con = duckdb.connect()
    csv = f"read_csv(['{inp.csv_base}', '{inp.csv_append}'], header=true)"
    dup_within = con.execute(
        f"SELECT count(*) FROM (SELECT track_id FROM read_csv('{inp.csv_base}', header=true) "
        "GROUP BY 1 HAVING count(*) > 1)").fetchone()[0]
    across = con.execute(
        f"SELECT count(*) FROM (SELECT DISTINCT track_id FROM read_csv('{inp.csv_base}', header=true)) "
        f"JOIN (SELECT DISTINCT track_id FROM read_csv('{inp.csv_append}', header=true)) USING (track_id)"
    ).fetchone()[0]
    assert dup_within > 0 and across > 0
    for c in gen.MEDIAN_COLS + gen.MODE_COLS:
        assert con.execute(f"SELECT count(*) - count({c}) FROM {csv}").fetchone()[0] > 0, c
    for c, (lo, hi) in gen.CLAMPED.items():
        assert con.execute(f"SELECT count(*) FROM {csv} WHERE {c} < {lo} OR {c} > {hi}").fetchone()[0] > 0, c
    # validated but not clamped: must already be in range
    assert con.execute(f"SELECT count(*) FROM {csv} WHERE loudness < -60 OR loudness > 0 "
                       "OR tempo < 0").fetchone()[0] == 0
    events = f"read_parquet('{inp.events_dir}/*.parquet')"
    assert con.execute(f"SELECT count(*) - count(DISTINCT event_id) FROM {events}").fetchone()[0] > 0
    up = con.execute(
        f"SELECT count(*) FILTER (WHERE track_id IN (SELECT track_id FROM {csv})), count(*) "
        f"FROM read_parquet('{inp.upserts}')").fetchone()
    assert 0 < up[0] < up[1]


def test_corrupted_output_raises_wrong_results(tmp_path):
    wl = DashboardReads(name="dashboard_reads", root=ROOT, work=tmp_path, seed=5)
    wl.generate()
    name = "q1_pricing_summary"
    cols, rows = _oracle_output(wl.sf_dir, name)
    good = Record(name, 1, 0.1, (cols, rows))
    bad_rows = [tuple(v + 1 if isinstance(v, int) and not isinstance(v, bool) else v for v in rows[0])]
    bad = Record(name, 2, 0.1, (cols, bad_rows + rows[1:]))
    assert bad_rows[0] != rows[0]
    wrong = wl.check([good, bad])
    assert wrong == [f"{name}@2"]
    t = run.tally([good, bad], wrong)
    assert t["wrong_results"] == 1 and t["ops_failed_frac"] == 0.5 and t["failed"] == 1


def test_missing_registry_name_is_a_failed_operation(tmp_path):
    wl = DashboardReads(name="dashboard_reads", root=ROOT, work=tmp_path, seed=5)
    wl.generate()
    wl.order = ["no_such_query"]
    records: list = []
    run.run_pass(wl, 1, records)
    assert len(records) == 1 and records[0].error.startswith("KeyError")
    t = run.tally(records, wl.check(records))
    assert t["failed"] == 1 and t["ops_failed_frac"] == 1.0 and t["wrong_results"] == 0


def test_etl_check_flags_a_wrong_row_count(tmp_path):
    class Report:
        def __init__(self, n):
            self.rows_loaded = n

    wl = MedallionEtl(name="medallion_etl", root=ROOT, work=tmp_path, seed=5)
    wl.generate()
    exp = wl.expected()
    recs = [Record("bronze_full", 1, 0.1, Report(exp["bronze_full"])),
            Record("bronze_append", 1, 0.1, Report(exp["bronze_append"] - 1))]
    assert wl.check(recs) == ["bronze_append@1"]


def test_compare_refuses_other_core_counts():
    base = {"workload": "w", "provenance": {"cores": 4, "master": "local[4]"}, "pass_s": 1.0}
    other = {"workload": "w", "provenance": {"cores": 8, "master": "local[8]"}, "pass_s": 1.0}
    with pytest.raises(ValueError, match="cores"):
        compare.compare(base, other)
    assert compare.compare(base, dict(base, pass_s=2.0))[0].split()[-1] == "2.000"


def test_execution_time_is_taken_out_of_construction_spans():
    busy = spans._merge([(5.0, 6.0), (1.0, 3.0), (2.0, 4.0)])
    assert busy == [(1.0, 4.0), (5.0, 6.0)]
    assert spans._overlap(busy, 0.0, 10.0) == 4.0
    assert spans._overlap(busy, 3.5, 5.5) == 1.0
    assert spans._overlap(busy, 4.0, 5.0) == 0.0


def test_benchmark_json_matches_the_code():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dashboard_reads", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0 and p.stdout == ""


def test_traced_passes_repeat_work_counts():
    """Two traced passes of the same code give equal jobs, stages, tasks,
    shuffle bytes and py4j calls."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curation_batch", "--seed", "3",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    detail, result = (json.loads(x) for x in p.stdout.strip().splitlines()[-2:])
    assert result["correct"]
    per_pass = detail["exact_counts_per_pass"]
    assert len(per_pass) >= 2 and all(c == per_pass[0] for c in per_pass)
    assert per_pass[0]["exec.jobs"] > 0 and per_pass[0]["plans.py4j_calls"] > 0
    assert result["metrics"]["trace.counts_repeat"]["value"] == 1
