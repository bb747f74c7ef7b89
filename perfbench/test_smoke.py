"""Smoke tests of the benchmark itself at tiny sizes.

    python -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs, probes, workloads  # noqa: E402


def _expected_values(registry, path, filetype):
    """Run the fixture extractors themselves on one generated file."""
    from metadata_extractors_api_spark.plans.extract_batch import _cli_shim_source
    from metadata_extractors_api_spark.plans.extractors_fixture import _yadg_extract

    if registry.mode[filetype] == "python":
        return [v for _, _, v in _yadg_extract(registry.input_type[filetype], path)]
    out: list[str] = []
    ns = {"print": out.append, "sys": type("S", (), {"argv": ["csvx", path]})}
    exec(_cli_shim_source().replace("import sys\n", ""), ns)
    return [float(line.split(",")[2]) for line in out]


def test_closed_form_matches_fixture_extractors():
    rng = random.Random(5)
    reg = inputs.make_registry(rng)
    b = inputs.make_batch(rng, reg, 200, {"python": 0.5, "cli": 0.25, None: 0.25})
    s = ws = n = 0
    for fid, path, ft, _ in b.rows:
        if reg.mode[ft] is None:
            continue
        v100 = [round(v * 100) for v in _expected_values(reg, path, ft)]
        n += len(v100)
        s += sum(v100)
        ws += fid * sum(v100)
    assert (n, s, ws) == (b.n_rows, b.sum100, b.wsum100)
    assert 0 < b.n_python < b.n_dispatched < len(b.rows)


def test_inputs_repeat_per_seed():
    def gen(seed):
        rng = random.Random(seed)
        reg = inputs.make_registry(rng)
        return reg.payloads(), inputs.make_batch(rng, reg, 50, {"python": 1.0})

    assert gen(3) == gen(3)
    assert gen(3) != gen(4)
    reg = inputs.make_registry(random.Random(3))
    assert reg.of_mode("python") and reg.of_mode("cli") and reg.of_mode(None)


def test_tail_latency_has_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]
    v, at = probes.tail_latency(xs)
    assert v == 30.0 and sum(x > v for x in xs) == 10 and at.startswith("p75.0")
    assert probes.tail_latency(xs[:20]) == (15.25, "p75 (n=20)")
    assert probes.tail_latency([3.0, 1.0, 2.0])[0] == 2.5


def test_peak_rss_covers_children():
    import subprocess

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        assert child.pid in probes.descendants(os.getpid())
        assert probes.peak_rss_mb() > 0
    finally:
        child.kill()
        child.wait()


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    from metadata_extractors_api_spark import Engine
    from metadata_extractors_api_spark.session import get_spark

    spark = get_spark(master="local[2]", shuffle_partitions=2)
    yield workloads.Context(
        spark, Engine(spark), probes.Tracer(enabled=False),
        probes.JobCounter(spark.sparkContext), 7,
        str(tmp_path_factory.mktemp("bench")),
    )
    spark.stop()


@pytest.mark.parametrize("name", list(workloads.EXTRACTION))
def test_extraction_requests_pass_their_checks(ctx, name):
    spec = workloads.EXTRACTION[name]
    tiny = workloads.ExtractionSpec(8, spec.mix, spec.refresh, spec.sink)
    w = workloads.Extraction(ctx, tiny)
    for traced in (False, True):
        ctx.tracer.enabled = traced
        b = w.next_request()
        out = w.send(b, f"{name}-{traced}")
        assert w.check(b, out).ok
    ctx.tracer.enabled = False
    assert ctx.tracer.seconds(workloads.RESOLVE_RUN)
    assert ctx.jobs.counts(f"{name}-True")[0] > 0


def test_extraction_check_rejects_wrong_output(ctx):
    w = workloads.Extraction(ctx, workloads.ExtractionSpec(8, {"python": 1.0}, False, "collect"))
    b = w.next_request()
    out = w.send(b, "wrong")
    assert not w.check(b, out[:-1]).ok


def test_query_mix_checks_and_runs(ctx, monkeypatch):
    monkeypatch.setattr(workloads, "QUERY_METRICS",
                        {"join_multiway": "operators.relational.join_multiway_s"})
    w = workloads.QueryMix(ctx, scale=0.001)
    assert w.warm_up() == []
    name = w.next_request()
    w.send(name, "q")
    assert w.check(name, None).ok
