"""export-training CLI: materializes the composed training pipeline to
parquet and round-trips with the gate's DataFrame output."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.spark
@pytest.mark.slow
class TestExportTraining:
    def test_v3_roundtrip(self, spark, tmp_path):
        # subprocess: the CLI owns (and stops) its own SparkSession —
        # in-process it would stop the shared fixture session
        from uci_searchengine_spark.entry_queries import QUERIES

        out = str(tmp_path / "packed")
        proc = subprocess.run(
            [
                sys.executable, "-m", "uci_searchengine_spark.cli",
                "export-training",
                "--sf-dir", "/root/testdata/sf0.001",
                "--out", out,
                "--stage", "training_prep_v3",
                "--master", "local[4]",
            ],
            capture_output=True, text=True, timeout=420, cwd=REPO,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        info = json.loads(proc.stdout.strip().splitlines()[-1])
        assert info["rows"] > 0 and info["stage"] == "training_prep_v3"
        got = sorted(
            map(tuple, spark.read.parquet(out).collect())
        )
        want = sorted(
            map(
                tuple,
                QUERIES["training_prep_v3"][0](
                    spark, "/root/testdata/sf0.001"
                ).collect(),
            )
        )
        assert got == want
