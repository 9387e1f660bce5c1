"""Tests of the benchmark's own generators and spec.

Run from the repository root:

    python3 -m pytest perfbench/test_cubegen.py -q
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.cubegen import build_cube  # noqa: E402
from perfbench.kgoracle import expected_kg  # noqa: E402
from perfbench.run import END_TO_END, per_layer_spec  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from nospa_rdf_data_cube_validator_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def _ic_counts(spark, tmp_path, cube) -> dict[str, int]:
    from nospa_rdf_data_cube_validator_spark.operators.normalize import normalize
    from nospa_rdf_data_cube_validator_spark.operators.validate import CubeValidator
    from nospa_rdf_data_cube_validator_spark.plans.algebra import TripleStore
    from nospa_rdf_data_cube_validator_spark.sources.rdf import read_ntriples

    path = tmp_path / "cube.nt"
    path.write_text(cube.text(), encoding="utf-8")
    store = normalize(TripleStore(read_ntriples(spark, str(path))))
    store.df = store.df.localCheckpoint(eager=True)
    with CubeValidator(store) as v:
        return {name: df.count() for name, df in v.validate_all().items()}


def test_planted_cube_matches_ledger(spark, tmp_path):
    cube = build_cube(seed=5, areas=7, periods=2, geo_obs=10, plant=1)
    assert set(cube.ledger) == {f"ic{i}" for i in range(1, 22)}
    assert _ic_counts(spark, tmp_path, cube) == cube.ledger


def test_zero_violation_cube_passes_all_ics(spark, tmp_path):
    cube = build_cube(seed=6, areas=4, periods=2, geo_obs=10, plant=0)
    assert all(n == 0 for n in cube.ledger.values())
    assert _ic_counts(spark, tmp_path, cube) == cube.ledger


def test_seed_changes_content_not_size():
    a, b, a2 = build_cube(1), build_cube(2), build_cube(1)
    assert a.lines == a2.lines
    assert a.lines != b.lines
    assert len(a.lines) == len(b.lines) and a.n_obs == b.n_obs and a.ledger == b.ledger


def test_kg_oracle_matches_pipeline(spark, tmp_path):
    from nospa_rdf_data_cube_validator_spark.pipeline import run_pipeline
    from nospa_rdf_data_cube_validator_spark.sources.transcripts import synth_transcripts

    params = dict(n_convs=9, base_turns=3, hot_convs=1, hot_turns=25)
    want = expected_kg(**params)
    tr = synth_transcripts(spark, **params)
    res = run_pipeline(spark, tr, str(tmp_path / "wd"), validate=False, encoded=False)
    assert res["transcripts"].count() == want["turns"]
    assert res["triples"].count() == want["triples"]


def test_benchmark_json_matches_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == per_layer_spec()
    assert spec["paths"] == ["perfbench"]
