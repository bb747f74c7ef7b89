"""Command templating: the port of the reference's apply_template_args
(marda_extractors_api/__init__.py:401-441), re-implemented from its
observed semantics (SURVEY.md §2.C trap list):

- slots are ``{{ input_type }}``, ``{{ input_path }}``, ``{{ output_type }}``,
  ``{{ output_path }}`` (single-space padded);
- python mode repr-quotes values, cli mode substitutes raw strings;
- an ``additional_template`` entry overrides the default value unless it
  is falsy (the reference uses ``or``), so '' falls back to the local;
- ``None`` values are skipped entirely: the slot survives unsubstituted.

Two forms: a plain-Python function (plan-time use + unit tests against
the reference's golden strings) and a Column-expression builder (the
set-oriented form used by the ``fn_template`` query and extract_batch).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

FIELDS = ("input_type", "input_path", "output_type", "output_path")


def apply_template_args(
    command: str,
    method: str,
    input_type: str | None = None,
    input_path: str | None = None,
    output_type: str | None = None,
    output_path: str | None = None,
    additional_template: dict[str, str] | None = None,
) -> str:
    """Render one command string (row-at-a-time form)."""
    values = {
        "input_type": input_type,
        "input_path": input_path,
        "output_type": output_type,
        "output_path": output_path,
    }
    extra = additional_template or {}
    for field in FIELDS:
        value = extra.get(field) or values[field]
        if value is None:
            continue
        value = str(value)
        if method != "cli":
            value = repr(value)
        command = command.replace("{{ " + field + " }}", value)
    return command


def template_expr(
    command: Column,
    method: Column,
    values: dict[str, Column],
) -> Column:
    """Column-expression form: render the template for every row at once.

    ``values`` maps field name -> Column (nullable). A NULL value renders
    as the slot itself, mirroring the reference's None-skip. Python-mode
    quoting replicates CPython ``repr`` for printable strings: backslash
    escaped first, then double-quote wrapping when the value contains a
    single quote but no double quote, else single-quote wrapping with
    embedded single quotes escaped (test_template_expr_matches_repr
    pins the parity; control characters are out of contract).
    """
    out = command
    for field in FIELDS:
        if field not in values:
            continue
        v = values[field].cast("string")
        bs = F.replace(v, F.lit("\\"), F.lit("\\\\"))
        double_quoted = F.concat(F.lit('"'), bs, F.lit('"'))
        single_quoted = F.concat(
            F.lit("'"), F.replace(bs, F.lit("'"), F.lit("\\'")), F.lit("'")
        )
        reprd = F.when(
            v.contains("'") & ~v.contains('"'), double_quoted
        ).otherwise(single_quoted)
        quoted = F.when(method == "python", reprd).otherwise(v)
        slot = F.lit("{{ " + field + " }}")
        out = F.replace(out, slot, F.coalesce(quoted, slot))
    return out
