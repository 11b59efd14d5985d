"""The benchmark's own tests: generator determinism and shape, metric
naming, a small-input smoke run of every workload, untraced and traced,
with the correctness checks on, and expected failures that reproduce two
package defects.

Run from the repository root:  python3 -m pytest perfbench/tests -q
(about six minutes on 4 cores: eight small runs, each starting a JVM).
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
WORKLOADS = ["f1_dag", "mart_serving", "curate_ingest"]


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors


@pytest.mark.parametrize("kind,params", [
    ("raw", {"seasons": 2, "rounds": 6, "n_drivers": 8}),
    ("tpch", {"sf": 0.001}),
    ("corpus", {"n_docs": 40, "vec_per_doc": 1.0}),
])
def test_generator_is_deterministic(tmp_path, kind, params):
    a, b, c = (str(tmp_path / x) for x in "abc")
    info_a = gen.build(kind, a, 7, **params)
    info_b = gen.build(kind, b, 7, **params)
    gen.build(kind, c, 8, **params)
    assert info_a == info_b
    assert _same_tree(a, b)
    assert not _same_tree(a, c)


def test_raw_lake_carries_the_fixture_edge_cases(tmp_path):
    out = str(tmp_path / "raw")
    info = gen.build("raw", out, 3, seasons=2, rounds=6, n_drivers=8)
    docs = {f: json.load(open(f"{out}/{f}")) for f in os.listdir(out)
            if f.endswith(".json") and not f.startswith("_")}
    results = [d["MRData"]["RaceTable"]["Races"] for f, d in docs.items()
               if f.startswith("results_")]
    assert [] in results                                   # empty Races
    assert any("Races" not in d["MRData"]["RaceTable"]     # pitstops w/o Races
               for f, d in docs.items() if f.startswith("pitstops_"))
    rows = [r for races in results for race in races for r in race["Results"]]
    assert any("FastestLap" not in r for r in rows)        # missing FastestLap
    assert any("Time" not in r and r["status"] == "+1 Lap" for r in rows)
    assert any(r.get("Time", {}).get("time", "").startswith("+") for r in rows)
    assert os.path.getsize(f"{out}/METEO2_data_Empty.csv") == 0
    cities = {d["city"] for f, d in docs.items() if f.startswith("races_")}
    assert gen.NO_WEATHER_CITY in cities
    assert not os.path.exists(f"{out}/METEO2_data_{gen.NO_WEATHER_CITY}.csv")
    for city, _ in gen.WEATHER_ONLY:
        assert city not in cities
        assert os.path.getsize(f"{out}/METEO2_data_{city}.csv") > 0
    assert info["combined_rows"] < info["formatted_rows"]


def test_corpus_has_the_shipped_shape(tmp_path):
    import pyarrow.parquet as pq

    out = str(tmp_path / "corpus")
    info = gen.build("corpus", out, 3, n_docs=50, vec_per_doc=0.4)
    docs = pq.read_table(f"{out}/documents.parquet").to_pandas()
    vecs = pq.read_table(f"{out}/embeddings.parquet").to_pandas()
    words = docs.text.str.split()
    assert words.str.len().between(10, 100).all()
    assert set(words.explode()) <= set(gen.VOCAB)
    assert docs.text.nunique() == len(docs)  # fresh samples, no copies
    assert info["embeddings_rows"] == len(vecs) == 20
    assert list(vecs.vec_id) == list(range(20))


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.layer_metrics()
    assert 2 <= len(bench["workloads"])
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    for name in list(e2e) + list(layers) + WORKLOADS:
        assert NAME.match(name), name
    assert e2e["setup_s"] == "s"
    assert max(m["bound"] for m in bench["end_to_end"]) == next(
        m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s"
    )


def test_span_interval_arithmetic():
    assert spans._union([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans._union([]) == 0
    assert spans._epoch("1970-01-01T00:00:01.500GMT") == 1.5


def _bench(workload: str, trace: int, cwd: str = ROOT):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--small"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_is_correct_and_reports_end_to_end(workload):
    code, out, p = _bench(workload, 0)
    assert code == 0, p.stderr[-3000:]
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())
    assert "fail_ratio=0 " in p.stdout  # the summary line names the ratio


# layers each workload must reach (non-zero) and must not reach (all zero)
REACHES = {
    "f1_dag": ("pipeline.run.jobs", "sources.sinks.write_parquet.files",
               "sources.sinks.write_mart.output_mb"),
    "mart_serving": ("plans.f1_model.combined.jobs",
                     "operators.marts.q1_wins.jobs",
                     "operators.marts.q9_top10.fetch_s"),
    "curate_ingest": ("operators.curate_index.curate_index_init.jobs",
                      "operators.curate_index.curate_index_update.job_overlap",
                      "operators.curate_index.curate_resolve.stages",
                      "functions.snapshots.commits",
                      "functions.snapshots.files_written",
                      "pipeline.run.jobs", "sources.sinks.write_parquet.files",
                      "sources.sinks.write_mart.output_mb"),
}
ZERO = {
    "f1_dag": ("functions.snapshots.", "operators.curate_index.",
               "operators.marts.", "plans.f1_model."),
    "mart_serving": ("functions.snapshots.", "sources.sinks.",
                     "operators.curate_index.", "pipeline.run."),
    "curate_ingest": ("operators.marts.", "plans.f1_model."),
}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_layer_metric(workload):
    code, out, p = _bench(workload, 1)
    assert code == 0, p.stderr[-3000:]
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert set(m) == set(run.layer_metrics())
    assert m["session.get_spark.wall_s"] > 0
    for k in REACHES[workload]:
        assert m[k] > 0, k
    for k, v in m.items():
        if k.startswith(ZERO[workload]):
            assert v == 0, k


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    code, out, p = _bench("f1_dag", 0, cwd=str(tmp_path))
    assert code != 0 and out is None


SPACE_CITY = """
import os, sys
sys.path.insert(0, os.getcwd())
from engineering_school_bigdata_project_f1_weather_spark import get_spark
from engineering_school_bigdata_project_f1_weather_spark.sources import weather
raw = sys.argv[1]
with open(os.path.join(raw, "METEO2_data_Mexico City.csv"), "w") as f:
    f.write("date,tavg,tmin,tmax,prcp,snow,wdir,wspd,wpgt,pres,tsun\\n"
            "2024-10-27,21.5,14.25,27.0,0.0,0.0,180.0,12.5,,1013.0,420.0\\n")
spark = get_spark("space-city", cpus=1)
st = spark.createDataFrame([("Mexico City", "Mexico")], "city string, country string")
print(sorted(r.city for r in weather.read_weather(spark, raw, st).collect()))
spark.stop()
"""


@pytest.mark.xfail(strict=True, reason="read_weather keeps input_file_name()'s "
                   "percent-encoding: 'Mexico City' becomes 'Mexico%20City'")
def test_space_in_city_name_joins(tmp_path):
    p = subprocess.run(
        [sys.executable, "-c", SPACE_CITY, str(tmp_path)], cwd=ROOT,
        capture_output=True, text=True, timeout=300,
        env={**os.environ, "PYTHONPATH": ROOT},
    )
    assert p.returncode == 0, p.stderr[-2000:]
    assert p.stdout.strip().splitlines()[-1] == "['Mexico City']"


FEWER_VECTORS = """
import os, sys
sys.path[:0] = [os.getcwd(), os.path.join(os.getcwd(), "perfbench")]
import checks, gen, __spark_entry__
from engineering_school_bigdata_project_f1_weather_spark import get_spark
from engineering_school_bigdata_project_f1_weather_spark.operators import curate_index
lake = sys.argv[1]
gen.build("corpus", lake, 778, n_docs=90, vec_per_doc=0.4)
spark = get_spark("fewer-vectors", cpus=2)
got = checks.digest(curate_index.curate_incremental(spark, lake).toPandas())
spark.stop()
con = checks.duck_over(lake, checks.CORPUS_TABLES)
want = checks.digest(con.execute(__spark_entry__.oracle_sql()["curate_incremental"]).df())
print(checks.mismatch(got, want))
"""


@pytest.mark.xfail(strict=True, reason="curate_incremental bootstraps SemDeDup "
                   "on vec_id <= max(doc_id)/2, its oracle on vec_id <= "
                   "max(vec_id)/2: with fewer vectors than documents (0.4 per "
                   "document, as the shipped sf0.1 tables) the ledgers differ")
def test_curate_ledger_with_fewer_vectors_than_documents(tmp_path):
    p = subprocess.run(
        [sys.executable, "-c", FEWER_VECTORS, str(tmp_path)], cwd=ROOT,
        capture_output=True, text=True, timeout=600,
        env={**os.environ, "PYTHONPATH": ROOT},
    )
    assert p.returncode == 0, p.stderr[-2000:]
    assert p.stdout.strip().splitlines()[-1] == "None"
