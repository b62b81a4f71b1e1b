"""DDL properties passthrough (D1) and progress (A4) tests."""

from __future__ import annotations

import json
import time

from hummingbird_spark.operators.metrics import Progress
from hummingbird_spark.sources.ddl import read_table_properties


def test_progress_eta():
    # A4 (data_copier.go:146-175)
    p = Progress(completed=25, total=100, started_at=time.time() - 50)
    assert p.percent == 25.0
    eta = p.eta_seconds()
    assert 140 < eta < 160  # 50s for 25 => ~150s for remaining 75
    assert Progress(0, 100, time.time()).eta_seconds() is None
    assert Progress(0, 0, time.time()).percent == 100.0


def test_table_properties_read_at_a_file_uri(spark, tmp_path):
    """The D1 sidecar is read through Hadoop, so a table located by a
    `file://` URI finds it."""
    props = {"mongo.option.capped": "true", "mongo.option.max": "100"}
    (tmp_path / "_table_properties.json").write_text(json.dumps(props))
    assert read_table_properties(f"file://{tmp_path}") == props
    assert read_table_properties(f"file://{tmp_path}/none") == {}
