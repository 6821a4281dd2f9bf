#!/usr/bin/env python3
"""Self-tests of the layer benchmark. Run from the root of a checkout:

  python3 layerbench/selftest.py

  1. generator determinism: one seed twice gives the same digest, another
     seed a different one;
  2. metric names: every metric run.py emits matches [A-Za-z0-9_.-]+, has a
     unit, and BENCHMARK.json lists the same names and units;
  3. the stub's GET/POST round trip through the engine's HTTP transport;
  4. a corrupted POSTed feature flips the caltopo_etl output check: the run
     reports failed > 0 and exits nonzero.

Exits nonzero if any test fails.
"""
import json
import os
import re
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_generator():
    base = os.path.join(run.BUILD, "selftest-gen")
    try:
        a = gen.generate(7, base + "-a")["digest"]
        b = gen.generate(7, base + "-b")["digest"]
        c = gen.generate(8, base + "-c")["digest"]
    finally:
        for s in "abc":
            shutil.rmtree(f"{base}-{s}", ignore_errors=True)
    assert a == b, f"seed 7 gave two digests {a} {b}"
    assert a != c, "seeds 7 and 8 gave the same inputs"


def test_metric_names():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for declared, emitted in ((bench["end_to_end"], run.END_TO_END),
                              (bench["per_layer"], run.PER_LAYER)):
        assert {m["name"]: m["unit"] for m in declared} == emitted, \
            "BENCHMARK.json and run.py disagree on metric names or units"
        for name, unit in emitted.items():
            assert NAME.fullmatch(name), f"bad metric name {name!r}"
            assert unit, f"metric {name} has no unit"
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


def test_stub_round_trip():
    jars = run.spark_jars()
    classes = run.build(jars)
    tmp = os.path.join(run.BUILD, "selftest-tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp",
             os.pathsep.join([classes] + jars), "graft.layerbench.StubCheck"],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=120)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert r.returncode == 0 and "stub round trip ok" in r.stdout, r.stdout[-2000:]


def test_corrupt_post_fails():
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "caltopo_etl", "--seed", "7", "--seconds", "1", "--corrupt"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300)
    assert r.returncode != 0, "corrupted output did not fail the run"
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert not result["correct"] and result["failed"] > 0, result


def main():
    failed = 0
    for test in (test_generator, test_metric_names, test_stub_round_trip,
                 test_corrupt_post_fails):
        try:
            test()
            print(f"PASS {test.__name__}")
        except Exception as e:  # report every test, then fail
            failed += 1
            print(f"FAIL {test.__name__}: {e}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
