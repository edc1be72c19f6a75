"""Guard: the scale probe's arm table is consistent, checked without Spark.

``scripts/run_scale_probe.py`` runs one table of arms; an arm that names a
registered query renamed since, or a staged table with no synthesizer,
would otherwise fail only minutes into a probe run.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

from json_format_in_parquet_benchmark_spark.plans import REGISTRY
from json_format_in_parquet_benchmark_spark.plans.queries_generator import _docgen_text

_PATH = Path(__file__).resolve().parents[1] / "scripts" / "run_scale_probe.py"
_spec = importlib.util.spec_from_file_location("run_scale_probe", _PATH)
probe = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(probe)

ARMS = probe.arms(2000)


def test_arm_labels_are_unique():
    labels = [a.label for a in ARMS]
    assert len(labels) == len(set(labels)), sorted(
        {x for x in labels if labels.count(x) > 1}
    )


def test_every_registered_query_an_arm_runs_is_registered():
    missing = [a.run for a in ARMS if isinstance(a.run, str) and a.run not in REGISTRY]
    assert not missing, missing


def test_every_table_an_arm_reads_has_a_synthesizer_in_one_sf_dir():
    for arm in ARMS:
        assert arm.tables, arm.label
        assert set(arm.tables) <= set(probe.TABLES), arm
        assert len({probe.TABLES[t].sf for t in arm.tables}) == 1, arm


class _Recorder:
    """Stands in for a SparkSession: records every selectExpr expression."""

    def __init__(self):
        self.exprs: list[str] = []

    def range(self, n, numPartitions=None):
        return self

    def selectExpr(self, *exprs):
        self.exprs += exprs
        return self


def test_documents_text_is_the_registered_generator_expression():
    rec = _Recorder()
    probe.TABLES["documents"].synth(rec, 2000)
    assert f"{_docgen_text(spark_side=True)} as text" in rec.exprs
