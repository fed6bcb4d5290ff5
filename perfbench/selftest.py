"""Quick self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py          (or: python3 -m pytest perfbench/selftest.py)

For every workload it checks that a run prints every end-to-end metric
of BENCHMARK.json by name with its unit and reports no failures, and
that a deliberately wrong expected answer drives fail_rate above 0. A
traced run of every workload checks the per-layer metric names and that
the layer times add up to the traced wall time within 10%. Takes about
fifteen minutes: each run starts its own JVM.
"""

from __future__ import annotations

import contextlib
import io
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import run as bench  # noqa: E402
from perfbench.harness import REPO_ROOT, RunContext  # noqa: E402

SPEC = json.loads((REPO_ROOT / "BENCHMARK.json").read_text())
TINY = 0.02
# traced runs take the median of several loop ops: at tiny inputs the
# first ops of a fresh session still carry warm-up cost
TRACED_SECONDS = 8


def _run(workload: str, trace: bool = False, wrong=None) -> tuple[dict, str]:
    seconds = TRACED_SECONDS if trace else 1
    ctx = RunContext(workload, seed=7, seconds=seconds, trace=trace, scale=TINY)
    result = bench.run(ctx, expect_override=wrong)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bench.report(result)
    return result, buf.getvalue()


def _assert_printed(out: str, specs: list[dict]) -> None:
    lines = out.strip().splitlines()
    last = json.loads(lines[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert set(last["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        assert last["metrics"][m["name"]]["unit"] == m["unit"], m
        # the human-readable line shows the same name and unit
        assert any(
            ln.startswith(m["name"]) and ln.endswith(f" {m['unit']}") for ln in lines[:-1]
        ), m["name"]
    assert any(ln.startswith("fail_rate") for ln in lines)


# a wrong expected answer per workload; each must count as failures
WRONG = {
    "log_batch": lambda wl: wl.expected.update({"*": wl.expected["*"] + 1}),
    "sp_interactive": lambda wl: setattr(wl, "twins", ["SELECT -1 AS event_id"] * len(wl.twins)),
}


def test_spec_matches_the_runner():
    assert [w["name"] for w in SPEC["workloads"]] == list(WRONG)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == bench.PER_LAYER


def test_end_to_end_metrics_printed_and_correct():
    for w in WRONG:
        result, out = _run(w)
        _assert_printed(out, SPEC["end_to_end"])
        assert result["attempted"] >= 1 and result["failed"] == 0, (w, result["errors"])


def test_wrong_expected_answer_fails():
    for w, wrong in WRONG.items():
        result, _ = _run(w, wrong=wrong)
        assert result["failed"] / result["attempted"] > 0, w


def test_wrong_retrieval_answer_fails():
    """The retrieval twin runs in the traced sp_interactive run; a wrong
    BM25 k1 in its checker must count as failures."""
    from perfbench import sp_interactive

    class WrongK1(sp_interactive.CorpusTwin):
        def __init__(self, ctx):
            super().__init__(ctx)
            self.k1 += 0.3

    orig = sp_interactive.CorpusTwin
    sp_interactive.CorpusTwin = WrongK1
    try:
        result, _ = _run("sp_interactive", trace=True)
    finally:
        sp_interactive.CorpusTwin = orig
    assert any(e.startswith("bm25") for e in result["errors"]), result["errors"][:3]


def test_traced_runs_print_every_layer_metric_and_layers_add_up():
    for w in WRONG:
        result, out = _run(w, trace=True)
        _assert_printed(out, SPEC["per_layer"])
        assert result["failed"] == 0, (w, result["errors"])
        frac = result["metrics"]["trace.layer_sum_frac"]["value"]
        assert 0.9 <= frac <= 1.1, (w, frac)


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"ok {name}", flush=True)
