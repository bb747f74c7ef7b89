"""Extraction-dispatch pipeline tests (SURVEY.md Phase 4): semantics the
registered queries don't reach -- template override via a non-first
extractor, preferred-mode switching, and the Engine facade."""

from __future__ import annotations

import glob
import os
import tempfile

from pyspark.sql import functions as F

import metadata_extractors_api_spark as mdx
from metadata_extractors_api_spark.engine import Engine
from metadata_extractors_api_spark.plans.extract_batch import (
    _executor,
    _sweep_status,
    execute_dispatched,
    extract_batch,
    resolve,
)
from metadata_extractors_api_spark.sources import registry as reg


def test_dispatch_first_wins_and_orphan_null(spark):
    out = extract_batch(spark, reg.files_df(spark)).toPandas().set_index("file_id")
    assert out.loc[1, "extractor_id"] == "yadg"  # first of two registered
    assert out.loc[1, "n_candidates"] == 2  # reference warns here
    assert out.loc[5].isna()["extractor_id"]  # orphan -> NULL (ref raises)


def test_dispatch_python_mode_quotes(spark):
    out = extract_batch(spark, reg.files_df(spark)).toPandas().set_index("file_id")
    assert (
        out.loc[1, "rendered"]
        == "yadg.extractors.extract('biologic-mpr', '/data/gcpl.mpr')"
    )
    # csv-extract has no python usage -> falls back to cli (A7), raw values
    assert out.loc[4, "rendered"] == "csvx /data/table.csv /data/table.json"


def test_dispatch_cli_mode_preference(spark):
    out = (
        extract_batch(spark, reg.files_df(spark), preferred_mode="cli")
        .toPandas()
        .set_index("file_id")
    )
    assert out.loc[1, "method"] == "cli"
    assert out.loc[1, "rendered"] == "yadg extract /data/gcpl.mpr -o /data/gcpl.json"


def test_template_override_from_supported_filetypes(spark):
    # Reorder the registry so alt-extractor wins: its supported_filetypes
    # template {'input_type': 'mpr'} must override the filetype id (A6+A8).
    ft = reg.filetypes_df(spark).withColumn(
        "registered_extractors",
        F.when(
            F.col("id") == "biologic-mpr",
            F.array(F.lit("alt-extractor"), F.lit("yadg")),
        ).otherwise(F.col("registered_extractors")),
    )
    out = (
        resolve(spark, reg.files_df(spark), ft, reg.extractors_df(spark))
        .filter(F.col("file_id") == 1)
        .collect()[0]
    )
    assert out["extractor_id"] == "alt-extractor"
    assert out["rendered"] == "altx mpr /data/gcpl.mpr"  # 'mpr', not 'biologic-mpr'


def test_engine_facade(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    assert eng.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0]["n"] > 0
    assert eng.query("limit_topk").count() == 10
    assert eng.extract_batch(reg.files_df(spark)).count() == 6


def test_a16_dynamic_invocation_semantics():
    """Ports the reference's _execute_python contract
    (__init__.py:370-399): name-mismatch and unresolvable trees raise
    RuntimeError; a valid rendered call resolves through the attribute
    tree and invokes with parsed args/kwargs."""
    import pytest

    from metadata_extractors_api_spark.plans.extractors_fixture import (
        EXTRACTOR_MODULES,
        descend_function_tree,
        execute_python_call,
    )

    rows = execute_python_call(
        "yadg.extractors.extract('biologic-mpr', '/data/gcpl.mpr')", "yadg"
    )
    assert len(rows) == 15
    assert rows[0] == ("Ewe", 0, round(len("/data/gcpl.mpr") + 0 + 3 * 0.25 + 0.5, 2))

    # wrong input_type must change the values (args really flow through)
    other = execute_python_call(
        "yadg.extractors.extract('unknown', '/data/gcpl.mpr')", "yadg"
    )
    assert other[0][2] != rows[0][2]

    with pytest.raises(RuntimeError, match="mismatch"):
        descend_function_tree(EXTRACTOR_MODULES["yadg"], ["notyadg", "extract"])
    with pytest.raises(RuntimeError, match="Could not resolve"):
        execute_python_call("yadg.missing.fn('x')", "yadg")
    with pytest.raises(RuntimeError, match="Only simple"):
        execute_python_call("yadg.extractors.extract('x')", "import yadg")
    with pytest.raises(RuntimeError, match="No registered extractor"):
        execute_python_call("nope.extract('x')", "nope")


def test_extract_run_executes_both_methods(spark, sf_dir):
    out = mdx.QUERIES["extract_run"](spark, sf_dir).collect()
    methods = {(r["file_id"], r["method"]) for r in out}
    assert (1, "python") in methods and (4, "cli") in methods
    # cli rows came from a real subprocess of the rendered command
    cli_vals = [r for r in out if r["method"] == "cli" and r["file_id"] == 4]
    assert len(cli_vals) == 15


def test_template_override_applies_to_all_fields(spark):
    """A registry template override of input_path / output_path must
    render like the reference's apply_template_args (falsy fallback on
    every field), not just input_type."""
    ex = reg.extractors_df(spark).withColumn(
        "supported_filetypes",
        F.when(
            F.col("id") == "csv-extract",
            F.array(
                F.struct(
                    F.lit("example-csv").alias("id"),
                    F.create_map(
                        F.lit("input_path"), F.lit("/override/in.csv"),
                        F.lit("output_path"), F.lit(""),  # falsy -> default
                    ).alias("template"),
                )
            ),
        ).otherwise(F.col("supported_filetypes")),
    )
    out = (
        resolve(spark, reg.files_df(spark), reg.filetypes_df(spark), ex)
        .filter(F.col("file_id") == 4)
        .collect()[0]
    )
    assert out["rendered"] == "csvx /override/in.csv /data/table.json"
    assert out["output_path"] == "/data/table.json"


def _fixture_todo(spark, sf_dir):
    return mdx.QUERIES["extract_dispatch"](spark, sf_dir).select(
        "file_id", "method", "setup", "rendered"
    )


def test_execute_dispatched_is_one_python_pass(spark, sf_dir):
    """python and cli rows share one MapInPandas: no per-method branch
    and no union re-running the dispatch plan."""
    runs = execute_dispatched(_fixture_todo(spark, sf_dir))
    plan = runs._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "Union" not in plan


def test_sweep_status_classes():
    """A python call that raises or a non-zero exit is an error; output
    that ran but breaks the contract is a fail."""
    with _executor() as invoke:
        assert _sweep_status(invoke, "cli", None, "exit 3") == "error"
        assert _sweep_status(invoke, "cli", None, "echo a,b") == "fail"
        assert _sweep_status(
            invoke, "cli", None, "csvx /data/table.csv /data/table.json"
        ) == "pass"
        assert _sweep_status(
            invoke, "python", "yadg", "yadg.missing.fn('x')"
        ) == "error"


def test_cli_rows_leave_no_shim_dir(spark, sf_dir):
    pattern = os.path.join(tempfile.gettempdir(), "mdx_*shim_*")
    before = set(glob.glob(pattern))
    cli = _fixture_todo(spark, sf_dir).filter(F.col("method") == "cli")
    rows = execute_dispatched(cli).collect()
    assert rows and {r["method"] for r in rows} == {"cli"}
    assert set(glob.glob(pattern)) <= before
