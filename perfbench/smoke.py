"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 perfbench/smoke.py

It runs every workload with ``--trace 0`` and ``--trace 1`` and checks
that each prints every BENCHMARK.json metric with its unit and no failed
operation; that a deliberately corrupted result is counted as failed;
that the input generators are deterministic per seed; and that the
benchmark refuses to run (non-zero exit, no result line) in a directory
that holds only BENCHMARK.json and the benchmark's files. It takes a few
minutes: every run starts its own Spark session. Its file name keeps it
out of a plain ``pytest`` run of the repository.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

SCRATCH = os.path.join(ROOT, ".perfbench_work", "smoke")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    if proc.returncode != 0:
        raise AssertionError(f"exit {proc.returncode}:\n{proc.stdout[-2000:]}\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _tiny(workload: str, trace: int, *extra: str) -> tuple[dict, str]:
    proc = _run("--workload", workload, "--seed", "7", "--seconds", "1",
                "--trace", str(trace), "--scale", "tiny", *extra)
    return _result(proc), proc.stdout


def _assert_metrics(result: dict, expected: list[dict]) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in expected}
    assert got == want, f"metrics/units differ: got {got}, want {want}"
    for name, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{name} is not a number"


def test_every_metric_printed_with_unit() -> None:
    bench = _bench()
    for w in bench["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            result, stdout = _tiny(w["name"], trace)
            assert result["correct"] and result["failed"] == 0, stdout[-2000:]
            assert result["attempted"] >= 1
            _assert_metrics(result, bench[kind])
            assert "failed_frac" in stdout
            if trace == 0:
                assert result["metrics"]["wall_s"]["value"] > 0
                assert result["metrics"]["setup_s"]["value"] > 0


def test_corrupted_result_counts_as_failed() -> None:
    result, stdout = _tiny("catalog-cold", 0, "--corrupt", "wordcount")
    assert not result["correct"]
    assert result["failed"] == 1, stdout[-2000:]
    assert "FAILED wordcount" in stdout


def test_generators_deterministic_per_seed() -> None:
    def digest(kind: str, seed: int) -> str:
        d = os.path.join(SCRATCH, f"{kind}-{seed}-{len(os.listdir(SCRATCH))}")
        if kind == "star":
            gen.write_star_schema(d, seed, 0.001)
        else:
            gen.write_zipf_corpus(d, seed, 200)
        return gen.digest_dir(d)

    os.makedirs(SCRATCH, exist_ok=True)
    try:
        for kind in ("star", "zipf"):
            assert digest(kind, 1) == digest(kind, 1), f"{kind}: same seed, different inputs"
            assert digest(kind, 1) != digest(kind, 2), f"{kind}: different seeds, same inputs"
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)


def test_refuses_to_run_without_the_package() -> None:
    bare = os.path.join(SCRATCH, "bare")
    os.makedirs(bare, exist_ok=True)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run("--workload", "catalog-cold", "--seed", "1", "--seconds", "1",
                    "--trace", "0", cwd=bare)
        assert proc.returncode != 0
        assert '"correct"' not in proc.stdout
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"ok {name}", flush=True)
