"""Tests of the benchmark itself: the loan input generator, the
vendored testdata, statistics, the declared metric sets, the traced
run's job attribution and the refusal to run without the package.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen_loans  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

APP_ANCHORS = {  # FIXTURES.md §A1 target flag counts at the reference size
    "app_application_id_duplicate": 2,
    "app_loan_amount_non_positive": 1,
    "app_credit_score_missing": 8,
    "app_credit_score_out_of_range": 2,
    "app_postal_code_invalid": 3,
    "app_installation_type_invalid": 1,
    "app_system_size_invalid": 3,
    "app_system_size_present_for_heat_pump": 11,
    "quarantined_applications": 1,
}
LMS_COUNTS = {  # FIXTURES.md §A2 reference instances
    "lms_processed": 177,
    "lms_loan_id_duplicate": 140,
    "lms_application_id_duplicate": 68,
    "lms_application_id_null": 1,
    "lms_application_id_invalid_format": 1,
    "lms_current_balance_negative": 1,
    "lms_days_past_due_negative": 3,
    "lms_last_payment_before_disbursement": 8,
    "lms_next_due_before_disbursement": 5,
    "lms_last_payment_after_next_due": 0,
}


def _report(out_dir: str) -> dict:
    from duckdb_data_eng_proj_spark.etl.oracle_sql import _oracles

    cur = duckdb.connect().execute(_oracles(out_dir)["etl_quality_report"])
    return dict(zip([d[0] for d in cur.description], cur.fetchone()))


@pytest.mark.parametrize("seed", [0, 1, 7])
def test_loan_generator_hits_fixture_anchors(tmp_path, seed):
    gen_loans.generate(str(tmp_path), gen_loans.REF_APPS, seed)
    r = _report(str(tmp_path))
    assert r["applications_processed"] == 199
    for name, want in {**APP_ANCHORS, **LMS_COUNTS}.items():
        assert r[name] == want, name
    assert r["problematic_application_ids"].endswith("null]")  # NULL id kept


def test_loan_generator_scales_rates(tmp_path):
    gen_loans.generate(str(tmp_path), 10 * gen_loans.REF_APPS, seed=3)
    r = _report(str(tmp_path))
    for name, want in APP_ANCHORS.items():
        assert r[name] == 10 * want, name
    assert r["lms_processed"] == 1770
    assert r["lms_loan_id_duplicate"] == 1400


def test_loan_generator_is_seeded(tmp_path):
    a, b, c = (gen_loans.generate(str(tmp_path / d), 300, s)
               for d, s in (("a", 5), ("b", 5), ("c", 6)))
    read = lambda p: open(p["applications"]).read() + open(p["lms"]).read()  # noqa: E731
    assert read(a) == read(b) != read(c)


@pytest.mark.parametrize("sf", ["0.001", "0.01"])
def test_registry_workloads_read_the_vendored_testdata(sf):
    from duckdb_data_eng_proj_spark.io.sources import TESTDATA_TABLES
    from workloads import DATA

    for t in TESTDATA_TABLES:
        assert pq.read_metadata(os.path.join(DATA, f"sf{sf}", f"{t}.parquet")).num_rows > 0
    lineitem = pq.read_metadata(os.path.join(DATA, "sf0.01", "lineitem.parquet")).num_rows
    assert 50_000 < lineitem < 70_000  # TESTDATA.md: ~60,000 rows at sf0.01


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]  # 40 samples
    value, pct, n = stats.tail(xs)
    assert (value, pct, n) == (30.0, 75.0, 40)
    assert sum(x > value for x in xs) == 10
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_geomean_and_median():
    assert stats.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    assert stats.median([5.0, 1.0, 3.0]) == 3.0


def test_run_share_is_busy_over_busy_plus_steal():
    # /proc/stat jiffies: user nice system idle iowait irq softirq steal guest
    before = [0] * 9
    after = [60, 0, 20, 500, 10, 0, 0, 20, 60]  # guest time is already in user
    assert stats.run_share(before, after) == pytest.approx(80 / 100)
    assert stats.run_share(before, [0, 0, 0, 5, 0, 0, 0, 0, 0]) == 1.0  # all idle


def test_declared_metrics_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == list(run.PER_LAYER)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    for m in bench["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"]), m["name"]
    from workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


PROBE = """
import sys
sys.path[:0] = [{here!r}]
import run, workloads
workloads.WORKLOADS["drift_probe"] = lambda: workloads.RegistryWorkload(
    "drift_probe", ["sim_ann_index_drift"], sf="0.001", nominal_pass_s=60.0)
sys.exit(run.main(["--workload", "drift_probe", "--seed", "1", "--seconds", "1",
                   "--trace", "1"]))
"""


def test_traced_run_times_eager_jobs_inside_fn():
    """``sim_ann_index_drift`` runs Spark jobs inside ``fn()``; the
    traced run must attribute them to the build, not drop them."""
    out = subprocess.run([sys.executable, "-c", PROBE.format(here=HERE)],
                         capture_output=True, text=True, timeout=900, cwd=ROOT)
    assert out.returncode == 0, out.stderr[-3000:]
    *_, report_line, last = out.stdout.strip().splitlines()
    result, report = json.loads(last), json.loads(report_line[len("report "):])
    assert result["correct"] and result["failed"] == 0
    assert result["metrics"]["queries.build_jobs"]["value"] > 0
    assert report["per_op"]["sim_ann_index_drift"]["queries.build_jobs"] > 0
    assert not os.path.exists(os.path.join(ROOT, ".perfbench"))


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "loan_etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, timeout=180, cwd=tmp_path, env=env)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
