"""Seeded input generator for the benchmark.

Everything the engine receives is built here, outside the timed region,
from one ``random.Random(seed)``: a registry in the fixture's wire shape
(filetypes with 1-3 registered extractors, first registered wins, some
``template`` overrides, some orphan filetypes) and files tables for each
workload. Every generated extractor routes to one of the two executable
fixture extractors: the ``yadg`` python call (in-process) or the ``csvx``
CLI shim (one ``sh -c`` per file). ``write_tables`` writes the star-schema
and corpus tables the query_mix operators read, in the fixture's parquet
schemas.

The expected output of each file is computed here in closed form from
the generated path, independently of the engine:

* ``yadg`` (``_yadg_extract``): value = len(input_path) + point
  + len(channel) * 0.25 + bonus, bonus = 0.5 when the effective
  input_type is ``biologic-mpr`` else 99.0;
* ``csvx``: value = len(input_path) + point + len(channel) * 0.25.

Every term is a multiple of 0.25, so ``round(100 * value)`` is exact and
the per-file sum over 3 channels x 5 points is
``1500 * (len(path) + bonus) + 4125`` (bonus 0 for csvx).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_URL = "http://registry.bench.invalid/api/v0.3.0"

ROWS_PER_FILE = 15  # 3 channels x 5 points, per both fixture extractors
_CHANNEL_POINT_SUM100 = 4125  # sum over rows of 100 * (point + len(channel) / 4)

PY_COMMANDS = (
    "yadg.extractors.extract({{ input_type }}, {{ input_path }})",
    "yadg.extractors.extract(input_type={{ input_type }}, input_path={{ input_path }})",
)
CLI_COMMAND = "csvx {{ input_path }} {{ output_path }}"

# (template override, effective input_type it yields or None for "the
# filetype id"): covers the falsy-override fallback and the bonus switch.
TEMPLATES = (
    ({"input_type": "biologic-mpr"}, "biologic-mpr"),
    ({"input_type": ""}, None),
    ({"input_type": "alias-type"}, "alias-type"),
    ({"output_path": "/out/merged.json"}, None),
)

_WORDS = ("cell", "run", "gcpl", "ocv", "peis", "cycle", "batch", "probe",
          "anode", "sweep", "lab", "rig")


@dataclass(frozen=True)
class Registry:
    """A generated registry: row tuples in the engine's registry schemas
    plus, per filetype, the execution mode and effective python
    input_type the dispatch must arrive at."""

    filetypes: list[tuple]  # (id, description, registered_extractors)
    extractors: list[tuple]  # (id, supported_filetypes, usage, installation)
    mode: dict[str, str | None]  # filetype -> "python" | "cli" | None (orphan)
    input_type: dict[str, str]  # filetype -> input_type the yadg call sees

    def of_mode(self, mode: str | None) -> list[str]:
        return [ft for ft, m in self.mode.items() if m == mode]

    def payloads(self) -> dict[str, bytes]:
        """The registry's HTTP responses (url -> body), for an in-process
        opener. Orphan filetypes answer with an empty extractor list,
        which ``fetch_registry_snapshot`` rejects, so clients fetch only
        registered filetypes and the orphans dispatch to nothing."""
        out: dict[str, bytes] = {}
        for ft, desc, regs in self.filetypes:
            out[f"{BASE_URL}/filetypes/{ft}"] = json.dumps(
                {"data": {"id": ft, "description": desc,
                          "registered_extractors": regs}}
            ).encode()
        for eid, supported, usage, installation in self.extractors:
            entry = {
                "id": eid,
                "supported_filetypes": [
                    {"id": s, "template": t} for s, t in supported
                ],
                "usage": [
                    {"method": m, "setup": s, "command": c} for m, s, c in usage
                ],
                "installation": [
                    {"method": m, "requires_python": rp, "requirements": rq,
                     "packages": p}
                    for m, rp, rq, p in installation
                ],
            }
            out[f"{BASE_URL}/extractors/{eid}"] = json.dumps(
                {"data": entry}
            ).encode()
        return out


def make_registry(rng: random.Random, n_filetypes: int = 256,
                  n_extractors: int = 48) -> Registry:
    """About 1/16 of the filetypes are orphans; the rest get 1-3
    extractors and their mode is the first one's (python-capable
    extractors run python under the engine's default preferred_mode)."""
    ext_mode = ["python" if i % 3 else "cli" for i in range(n_extractors)]
    ext_ids = [f"ext-{i:03d}" for i in range(n_extractors)]
    supported: dict[str, list] = {e: [] for e in ext_ids}
    filetypes, mode, input_type = [], {}, {}
    for i in range(n_filetypes):
        ft = f"ft-{i:03d}"
        if i % 16 == 7:
            regs: list[str] = []
        else:
            regs = rng.sample(ext_ids, rng.randint(1, 3))
        filetypes.append((ft, f"generated filetype {i}", regs))
        mode[ft] = ext_mode[ext_ids.index(regs[0])] if regs else None
        input_type[ft] = ft
        for j, e in enumerate(regs):
            if rng.random() < 0.125:
                continue  # registered but not listed as supported: no template
            tpl, eff = (None, None)
            if rng.random() < 0.3:
                tpl, eff = rng.choice(TEMPLATES)
            supported[e].append((ft, tpl))
            if j == 0 and eff is not None:
                input_type[ft] = eff
    extractors = []
    for e, m in zip(ext_ids, ext_mode):
        py = ("python", "yadg", rng.choice(PY_COMMANDS))
        cli = ("cli", "", CLI_COMMAND)
        if m == "python":
            usage = [py, cli] if rng.random() < 0.5 else [cli, py]
        else:
            usage = [cli]
        extractors.append(
            (e, supported[e], usage, [("pip", ">=3.9", None, [f"{e}~=1.0"])])
        )
    return Registry(filetypes, extractors, mode, input_type)


@dataclass(frozen=True)
class Batch:
    """One request's files table plus the closed-form expectation."""

    rows: list[tuple]  # (file_id, path, filetype_id, size_bytes)
    n_dispatched: int
    n_python: int
    sum100: int  # sum of round(100 * value) over all output rows
    wsum100: int  # same, weighted by file_id

    @property
    def n_rows(self) -> int:
        return self.n_dispatched * ROWS_PER_FILE


def _path(rng: random.Random, fid: int, ext: str) -> str:
    parts = [rng.choice(_WORDS) for _ in range(rng.randint(1, 4))]
    return f"/data/{'/'.join(parts)}/f{fid}_{rng.randint(0, 10**rng.randint(1, 6))}.{ext}"


def make_batch(rng: random.Random, registry: Registry, n: int,
               mix: dict[str | None, float], first_id: int = 1) -> Batch:
    """``n`` files whose filetypes are drawn by mode according to ``mix``
    (mode -> share; the last mode takes the remainder)."""
    pools = {m: registry.of_mode(m) for m in mix}
    modes: list[str | None] = []
    for m, share in mix.items():
        modes += [m] * round(n * share)
    modes = (modes + [list(mix)[-1]] * n)[:n]
    rng.shuffle(modes)
    rows, n_disp, n_py, s, ws = [], 0, 0, 0, 0
    for k, m in enumerate(modes):
        fid = first_id + k
        ft = rng.choice(pools[m])
        path = _path(rng, fid, ft.replace("-", ""))
        rows.append((fid, path, ft, rng.randint(1, 1 << 30)))
        if m is None:
            continue
        bonus = 0.0
        if m == "python":
            n_py += 1
            bonus = 0.5 if registry.input_type[ft] == "biologic-mpr" else 99.0
        per_file = round(1500 * (len(path) + bonus)) + _CHANNEL_POINT_SUM100
        n_disp += 1
        s += per_file
        ws += fid * per_file
    return Batch(rows, n_disp, n_py, s, ws)


# --------------------------------------------------------------------------
# query_mix tables
# --------------------------------------------------------------------------

VOCAB = ("a", "the", "agg", "batch", "big", "column", "customer", "data",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "value", "vector", "window")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> pa.Array:
    epoch = (start - dt.date(1970, 1, 1)).days
    us = (epoch + rng.integers(0, span, n)).astype(np.int64) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values, n: int) -> list:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _docs(rng: np.random.Generator, n: int) -> list[str]:
    """Random-word documents; one in twenty is a near-duplicate (an
    earlier document plus one word) so the dedup operators find pairs."""
    out: list[str] = []
    for i in range(n):
        if i >= 20 and i % 20 == 8:
            out.append(out[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 110)))
            out.append(" ".join(VOCAB[w] for w in words))
    return out


def write_tables(seed: int, out_dir: str, scale: float = 0.01) -> None:
    """Write the ten catalog tables (``catalog.TABLES``) as single-row-
    group parquet files under ``out_dir``, sized like the TPC-H scale
    factor ``scale`` (lineitem = 6M x scale rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_doc, n_emb = int(1_000_000 * scale), int(50_000 * scale), int(50_000 * scale)
    i32 = pa.int32()
    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, ("AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"), n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                _pick(rng, ("red", "small", "hot", "old", "large", "blue", "cold", "new"), n_part),
                _pick(rng, ("plate", "widget", "ring", "rod", "gear", "bolt", "pipe", "valve"), n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2400, n_ord),
            "o_orderpriority": _pick(rng, ("1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"), n_ord),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2500, n_li),
        },
        "events": {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
                           + 1_704_067_200_000_000, pa.timestamp("us")),
            "user_id": rng.integers(0, 150, n_ev),
            "event_type": _pick(rng, ("click", "error", "purchase", "signup", "view"), n_ev),
            "value": _money(rng, 0.01, 490.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
        "embeddings": {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(rng.standard_normal((n_emb, 64), dtype=np.float32)),
                                  pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        },
    }
    text = _docs(rng, n_doc)
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": text,
        "lang": _pick(rng, ("en", "en", "en", "de", "es", "fr", "zh"), n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
