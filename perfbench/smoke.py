#!/usr/bin/env python3
"""The benchmark's own smoke test (about eight minutes on 4 cores).

    python3 perfbench/smoke.py

- the correctness gate passes the oracle's partition and fails a
  deliberately wrong one (pure Python, no Spark);
- every workload at ``--scale tiny``, untraced and traced, exits 0 and
  prints every metric BENCHMARK.json names with its unit (the unlisted
  stream-microbatch workload may print more per-layer metrics);
- ``--corrupt`` (a wrong partition handed to the gate) exits 1 with
  ``correct: false``;
- in a directory holding only BENCHMARK.json and the benchmark's files
  the benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = ["python3", "perfbench/run.py"]


def check_gate() -> None:
    sys.path.insert(0, ROOT)
    from dedup.config import DEFAULT_CONFIG as cfg
    from dedup.datagen import gen_pages_pdf
    from perfbench import checks, workloads
    from tests.oracle import run_oracle

    pages, truth = gen_pages_pdf(300, seed=5)
    oracle = run_oracle(pages, cfg)
    url_of = {d: u for u, d in oracle.doc_ids.items()}
    good = {url_of[d]: c for d, c in oracle.clusters.items()}
    pairs = checks.eligible_pairs(pages, truth, cfg)
    urls = set(pages["url"])
    assert pairs, "no eligible truth pairs"
    rec = checks.recall(pairs, good)
    assert checks.gate("oracle", good, urls, rec, 1.0, reference=good) == [], rec

    bad = dict(good)
    workloads._corrupt(bad, pairs)
    fails = checks.gate("corrupt", bad, urls, checks.recall(pairs, bad), 1.0, reference=good)
    assert any("recall" in f for f in fails) and any("partition" in f for f in fails), fails
    print("smoke: gate passes the oracle partition and fails a wrong one")


def run(args: list[str], cwd: str = ROOT, env: dict | None = None) -> tuple[int, dict | None]:
    p = subprocess.run(RUN + args, cwd=cwd, env=env, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if not isinstance(result, dict) or "metrics" not in result:
        result = None
    return p.returncode, result


def check_workloads(bench: dict) -> None:
    listed = [wl["name"] for wl in bench["workloads"]]
    for name in (*listed, "stream-microbatch"):
        for traced, key in ((0, "end_to_end"), (1, "per_layer")):
            args = ["--workload", name, "--seed", "3", "--seconds", "1",
                    "--trace", str(traced), "--scale", "tiny"]
            code, res = run(args)
            assert code == 0 and res is not None, (name, traced, code)
            assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, res
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if name in listed or traced == 0:
                assert got == want, (name, traced, set(want) ^ set(got))
            else:
                assert want.items() <= got.items(), (name, traced, set(want) - set(got))
            assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
            print(f"smoke: {name} trace={traced} ok")


def check_corrupt() -> None:
    code, res = run(["--workload", "batch-library", "--seed", "3", "--seconds", "1",
                     "--trace", "0", "--scale", "tiny", "--corrupt"])
    assert code == 1 and res is not None and res["correct"] is False and res["failed"] >= 1, (code, res)
    print("smoke: a wrong partition fails the run")


def check_bare_dir(bench: dict) -> None:
    bare = os.path.join(ROOT, ".perfbench_work", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    code, res = run(["--workload", "batch-library", "--seed", "1", "--seconds", "1", "--trace", "0"],
                    cwd=bare, env=env)
    shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and res is None, (code, res)
    print("smoke: without the program the benchmark fails and prints no result")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check_gate()
    check_bare_dir(bench)
    check_corrupt()
    check_workloads(bench)
    print("smoke: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
