"""Fast self-test of the benchmark at tiny input sizes.

    python3 perfbench/test_selftest.py
    python3 -m pytest perfbench/test_selftest.py

In one Spark session it runs every workload at the ``tiny`` size in both
reporting modes and once with corrupted pass outputs, and checks that:

- every metric named in BENCHMARK.json is printed, as a ``name value
  unit`` line and in the final JSON object, with the unit BENCHMARK.json
  gives it;
- the oracle passes on real outputs and counts a corrupted output as a
  failed pass;
- without the engine package next to it the benchmark exits non-zero and
  prints no result.
"""

import contextlib
import io
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as R  # noqa: E402

SECONDS = 0.5


def _declared():
    with open(os.path.join(R.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]},
            [w["name"] for w in spec["workloads"]])


def _report(metrics, units, attempted, failed):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        R.report(metrics, units, attempted, failed)
    lines = buf.getvalue().strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def _check_printed(lines, result, declared):
    printed = {ln.split()[0]: ln.split()[2] for ln in lines}
    for name, unit in declared.items():
        assert printed.get(name) == unit, (name, printed.get(name), unit)
        assert result["metrics"][name]["unit"] == unit, name
        assert isinstance(result["metrics"][name]["value"], (int, float)), name
    assert set(result["metrics"]) == set(declared)


def _run_all():
    end_to_end, per_layer, workloads = _declared()
    assert dict(R.END_TO_END) == end_to_end
    assert dict(R.per_layer_metrics()) == per_layer
    from workloads import WORKLOADS

    assert sorted(WORKLOADS) == sorted(workloads) == sorted(R.WORKLOAD_NAMES)

    os.makedirs(os.path.join(R.STATE, "tmp"), exist_ok=True)
    workdir = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(R.STATE, "tmp"))
    session = None
    try:
        R.isolate(workdir)
        from spans import Tracer

        session = R.Session(Tracer("selftest"), len(os.sched_getaffinity(0)))
        for name in workloads:
            for trace, declared in ((0, end_to_end), (1, per_layer)):
                wl = WORKLOADS[name](7, "tiny")
                metrics, attempted, failed = R.measure(
                    session, Tracer(f"{name}-{trace}"), wl, workdir, "selftest",
                    SECONDS, trace, warmup_passes=1)
                units = R.per_layer_metrics() if trace else R.END_TO_END
                lines, result = _report(metrics, units, attempted, failed)
                assert result["attempted"] >= 1 and result["failed"] == 0, (name, result)
                assert result["correct"] is True
                _check_printed(lines, result, declared)
            wl = WORKLOADS[name](7, "tiny")
            _m, attempted, failed = R.measure(
                session, Tracer(f"{name}-corrupt"), wl, workdir, "selftest",
                SECONDS, 0, corrupt_out=True, warmup_passes=1)
            assert attempted >= 1 and failed == attempted, (name, attempted, failed)
    finally:
        if session is not None:
            session.close()
        shutil.rmtree(workdir, ignore_errors=True)


def _run_without_engine():
    with tempfile.TemporaryDirectory(dir=os.path.join(R.STATE, "tmp")) as bare:
        shutil.copy(os.path.join(R.ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "point_join",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
        assert p.returncode != 0, p.stdout
        assert '"correct"' not in p.stdout, p.stdout


def test_without_engine():
    os.makedirs(os.path.join(R.STATE, "tmp"), exist_ok=True)
    _run_without_engine()


def test_metrics_and_oracles():
    _run_all()


if __name__ == "__main__":
    test_without_engine()
    test_metrics_and_oracles()
    print("selftest ok")
