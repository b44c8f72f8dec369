"""Ship-it path: the zipped package must run under spark-submit --py-files
(north rule packaging requirement), and a tile it serves must match the
driver-side numpy mirror (tests/local_pyramid.py) on the same input."""

from __future__ import annotations

import json
import subprocess
from pathlib import Path

import pytest

from geojson_vt_cpp_spark.config import Options

from .golden_utils import compare_tiles, my_feature_to_golden_shape
from .local_pyramid import LocalPyramid

REPO = Path(__file__).resolve().parents[1]
TILE = (7, 37, 48)

JOB = """
import json, sys
from pyspark.sql import SparkSession
from geojson_vt_cpp_spark import Options, TilePyramid, documents_from_fixture
spark = SparkSession.builder.getOrCreate()
docs = documents_from_fixture(spark, open(sys.argv[1]).read(), "us-states")
pyr = TilePyramid.from_documents(docs, Options())
t = pyr.get_tile(%d, %d, %d)
print("TILE_JSON " + json.dumps(t.features))
""" % TILE


@pytest.mark.spark
def test_spark_submit_py_files(tmp_path):
    out = subprocess.run(
        ["bash", str(REPO / "scripts" / "package.sh")], capture_output=True, text=True
    )
    assert out.returncode == 0, out.stderr
    job = tmp_path / "job.py"
    job.write_text(JOB)
    fixture = REPO / "fixtures" / "us-states.json"
    run = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(REPO / "dist" / "geojson_vt_cpp_spark.zip"),
            str(job), str(fixture),
        ],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
    )
    lines = [ln for ln in run.stdout.splitlines() if ln.startswith("TILE_JSON ")]
    assert lines, run.stderr[-2000:]
    submitted = json.loads(lines[-1][len("TILE_JSON "):])
    assert submitted, "empty tile"

    mirror = LocalPyramid(fixture.read_text(), Options()).get_tile(*TILE)
    errs = compare_tiles(
        {TILE: submitted},
        {TILE: [my_feature_to_golden_shape(f) for f in mirror.features]},
        strict_geometry=True,
    )
    assert not errs, errs[:10]
