"""Reference-fidelity unit tests (SURVEY.md §5.2 item 3): the templating
golden strings and call-parser cases from the reference's own test suite
(tests/test_mpr.py:100-148), run against this engine's re-implementation."""

from __future__ import annotations

import pytest

from metadata_extractors_api_spark.functions import (
    apply_template_args,
    prepare_python_call,
)


def test_template_cli_golden():
    out = apply_template_args(
        "parse --type=example {{ input_path }}",
        method="cli",
        input_type="example",
        input_path="example.txt",
        output_path="example.json",
    )
    assert out == "parse --type=example example.txt"


def test_template_python_repr_quoting():
    out = apply_template_args(
        "extract({{ input_type }}, {{ input_path }})",
        method="python",
        input_type="biologic-mpr",
        input_path="/data/f.mpr",
    )
    assert out == "extract('biologic-mpr', '/data/f.mpr')"


def test_template_none_skips_slot():
    out = apply_template_args(
        "noop {{ output_type }}", method="cli", input_type="t", input_path="/p"
    )
    assert out == "noop {{ output_type }}"


def test_template_additional_overrides_but_falsy_falls_back():
    out = apply_template_args(
        "x {{ input_path }}",
        method="cli",
        input_type="t",
        input_path="local.txt",
        additional_template={"input_path": "override.txt"},
    )
    assert out == "x override.txt"
    out = apply_template_args(
        "x {{ input_path }}",
        method="cli",
        input_type="t",
        input_path="local.txt",
        additional_template={"input_path": ""},
    )
    assert out == "x local.txt"


def test_parse_double_quoted():
    tree, args, kwargs = prepare_python_call('extract("biologic-mpr", "/path/to/file")')
    assert tree == ["extract"]
    assert args == ["biologic-mpr", "/path/to/file"]
    assert kwargs == {}


def test_parse_single_quoted():
    tree, args, kwargs = prepare_python_call("extract('biologic-mpr', '/path/to/file')")
    assert tree == ["extract"]
    assert args == ["biologic-mpr", "/path/to/file"]
    assert kwargs == {}


def test_parse_dotted_tree_and_kwarg():
    tree, args, kwargs = prepare_python_call(
        'example.extractors.extract("example.txt", type="example")'
    )
    assert tree == ["example", "extractors", "extract"]
    assert args == ["example.txt"]
    assert kwargs == {"type": "example"}


def test_parse_kwargs_only():
    tree, args, kwargs = prepare_python_call(
        'extract(filename="example.txt", type="example")'
    )
    assert tree == ["extract"]
    assert args == []
    assert kwargs == {"filename": "example.txt", "type": "example"}


def test_parse_rejects_nested_dict():
    with pytest.raises(RuntimeError):
        prepare_python_call(
            'extract(filename="example.txt", type={"test": "example", "dictionary": "example"})'
        )


def test_dequote_asymmetric():
    from metadata_extractors_api_spark.functions.callparse import dequote

    assert dequote("'abc") == "abc"
    assert dequote("abc'") == "abc"
    assert dequote("'abc'") == "abc"
    assert dequote('"abc"') == "abc"
    assert dequote("abc") == "abc"


def test_template_expr_matches_repr(spark):
    """Column-form python-mode quoting must equal CPython repr for
    printable strings, including embedded quotes and backslashes."""
    from pyspark.sql import functions as F

    from metadata_extractors_api_spark.functions.template import (
        apply_template_args,
        template_expr,
    )

    tricky = [
        "plain.txt",
        "it's here.mpr",
        'say "hi".csv',
        "both ' and \".bin",
        "back\\slash.dat",
        "mix '\\\" all",
    ]
    df = spark.createDataFrame([(t,) for t in tricky], "p string")
    got = (
        df.select(
            "p",
            template_expr(
                F.lit("run {{ input_path }}"),
                F.lit("python"),
                {"input_path": F.col("p")},
            ).alias("r"),
        )
        .toPandas()
        .set_index("p")["r"]
    )
    for t in tricky:
        want = apply_template_args("run {{ input_path }}", "python", input_path=t)
        assert got[t] == want == f"run {t!r}"


@pytest.mark.parametrize("method", ["python", "cli"])
def test_template_expr_matches_apply_for_every_null_pattern(spark, method):
    """All 16 NULL/non-NULL patterns of the four slots render the same
    in column form as in the row-at-a-time reference port."""
    from pyspark.sql import functions as F

    from metadata_extractors_api_spark.functions.template import (
        FIELDS,
        apply_template_args,
        template_expr,
    )

    command = (
        "x {{ input_type }} {{ input_path }} {{ output_type }}"
        " {{ output_path }} {{ input_path }}"
    )
    values = ("it's.mpr", 'say "hi"', "back\\slash", "plain.json")
    patterns = [
        tuple(v if mask >> i & 1 else None for i, v in enumerate(values))
        for mask in range(16)
    ]
    df = spark.createDataFrame(
        [(mask, *p) for mask, p in enumerate(patterns)],
        "mask int, " + ", ".join(f"{f} string" for f in FIELDS),
    )
    got = dict(
        df.select(
            "mask",
            template_expr(
                F.lit(command), F.lit(method), {f: F.col(f) for f in FIELDS}
            ),
        ).collect()
    )
    for mask, p in enumerate(patterns):
        assert got[mask] == apply_template_args(command, method, *p), p


def test_asof_nearest_prefers_closer_forward_click(spark, tmp_path_factory):
    """A purchase with a click 10s before and 2s after must pair with
    the AFTER click; equal distances must prefer the backward click."""
    import os

    import pandas as pd

    import metadata_extractors_api_spark as mdx

    out = str(tmp_path_factory.mktemp("asof"))
    base = 1_700_000_000_000_000_000  # ns epoch
    s = 1_000_000_000
    rows = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4, 5, 6],
            "ts": [
                base,            # u1 click (10s before)
                base + 10 * s,   # u1 purchase
                base + 12 * s,   # u1 click (2s after) -> nearest
                base + 20 * s,   # u2 click (5s before)
                base + 25 * s,   # u2 purchase
                base + 30 * s,   # u2 click (5s after) -> tie, backward wins
            ],
            "user_id": [1, 1, 1, 2, 2, 2],
            "event_type": ["click", "purchase", "click",
                           "click", "purchase", "click"],
            "value": [0.0] * 6,
            "props": ["{}"] * 6,
        }
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table(
        {
            "event_id": pa.array(rows["event_id"], pa.int64()),
            "ts": pa.array(rows["ts"], pa.timestamp("ns")),
            "user_id": pa.array(rows["user_id"], pa.int64()),
            "event_type": pa.array(rows["event_type"]),
            "value": pa.array(rows["value"], pa.float64()),
            "props": pa.array(rows["props"]),
        }
    )
    pq.write_table(t, os.path.join(out, "events.parquet"))
    got = {
        r["event_id"]: r["nearest_click"]
        for r in mdx.QUERIES["join_asof_nearest"](spark, out).collect()
    }
    assert got == {2: 3, 5: 4}
