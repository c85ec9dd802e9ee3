"""Benchmark self-tests (`run.py --selftest`).

- Determinism: the same seed gives an identical cube_api request log,
  lakehouse_rw op log and fixture digest (every workload's inputs); a
  different seed gives different ones.
- Replica: for the distinct requests of the first 200 of the cube_api
  stream, the traced layer-by-layer path returns the same columns and
  rows as `CubeRunner.execute`.
"""
import json
import os
import shutil

import fixtures


def _digests(cp, build, run_jvm, inputs, seed, tag):
    work = os.path.join(build, f"selftest-{tag}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if run_jvm(cp, ["digest", str(seed), work], work, 170) != 0:
            raise SystemExit(f"selftest: digest JVM failed for seed {seed}")
        out = json.load(open(os.path.join(work, "digest.json")))
        for name, (tables, copies, lake_files) in sorted(inputs.items()):
            fx = os.path.join(work, name)
            fixtures.generate(seed, fx, tables, copies, lake_files)
            out[f"fixtures.{name}"] = fixtures.digest(fx, tables)
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(cp, build, run_jvm, inputs, seed=11):
    ok = True
    a = _digests(cp, build, run_jvm, inputs, seed, "a")
    b = _digests(cp, build, run_jvm, inputs, seed, "b")
    c = _digests(cp, build, run_jvm, inputs, seed + 1, "c")
    for k in sorted(a):
        same = a[k] == b[k]
        differs = a[k] != c[k]
        ok &= same and differs
        print(f"determinism {k}: same seed {'identical' if same else 'DIFFERENT'}, "
              f"other seed {'different' if differs else 'IDENTICAL'}")

    work = os.path.join(build, "selftest-replica")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        tables, copies, lake_files = inputs["cube_api"]
        fx = os.path.join(work, "fixtures")
        fixtures.generate(seed, fx, tables, copies, lake_files)
        if run_jvm(cp, ["replica", str(seed), work, fx], work, 170) != 0:
            raise SystemExit("selftest: replica JVM failed")
        reqs = json.load(open(os.path.join(work, "replica.json")))["requests"]
        bad = [r["rid"] for r in reqs if not r["same"]]
        ok &= not bad
        print(f"replica: {len(reqs)} distinct requests, traced path == CubeRunner.execute "
              f"on {len(reqs) - len(bad)}" + (f"; differ: {bad}" if bad else ""))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest " + ("OK" if ok else "FAILED"))
    return 0 if ok else 1
