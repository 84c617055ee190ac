#!/usr/bin/env python3
"""Self-tests of the graft benchmark; needs no engine build.

    python3 perfbench/selftest.py

1. Inputs: the same seed gives byte-identical tables, another seed gives
   different ones, and seed 0 reproduces the base tables exactly.
2. Metric names: the metrics computed from a run's dump are exactly the
   names BENCHMARK.json declares (end_to_end untraced, per_layer traced).
   Uses a synthetic dump of each workload kind, plus the dumps of earlier
   runs in .bench_build/run when there are any.
3. Output check: a correct output passes, and a changed value, a missing
   row, a changed column type and a missing output are each caught.
4. Earlier untraced runs in .bench_build/run attached no listener and no
   counting file system.
"""
import sys

sys.dont_write_bytecode = True

import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402
from verify import Checker  # noqa: E402

WORK = os.path.join(run.BUILD, "selftest")
failures = []


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        failures.append(what)


def test_inputs():
    a = inputs.generate(7, os.path.join(WORK, "a"))
    b = inputs.generate(7, os.path.join(WORK, "b"))
    c = inputs.generate(8, os.path.join(WORK, "c"))
    z = inputs.generate(0, os.path.join(WORK, "z"))
    sha = lambda m: {t: v["sha256"] for t, v in m["tables"].items()}  # noqa: E731
    expect(sha(a) == sha(b), "seed 7 twice gives byte-identical tables")
    differ = [t for t in inputs.TABLES if a["tables"][t]["rows"] > 1
              and sha(a)[t] == sha(c)[t]]
    expect(not differ, f"seeds 7 and 8 differ in every multi-row table {differ or ''}")
    base = {t: inputs._sha256(os.path.join(inputs.BASE, f"{t}.parquet")) for t in inputs.TABLES}
    expect(sha(z) == base, "seed 0 reproduces the base tables byte for byte")
    rows = {t: v["rows"] for t, v in c["tables"].items()}
    expect(rows == {t: v["rows"] for t, v in z["tables"].items()},
           "a permuted variant keeps every table's row count")


def synthetic_raw(kind, traced):
    """A dump with the JVM harness's shape (graftbench.Main)."""
    spec = run.load_json(os.path.join(HERE, "spec.json"))
    wl = next(w for w in spec["workloads"].values() if w["kind"] == kind)
    names = wl["ops"] if kind == "catalog" else [f"trigger_{i:03d}" for i in range(wl["triggers"])]
    parts = {"run": 0.1, "action": 0.2} if kind == "catalog" else \
        {"admit": 0.3, "intake": 0.2, "read": 0.05}
    fs = {"read_ops": 3.0, "list_ops": 2.0, "write_ops": 4.0, "files_created": 1.0,
          "bytes_read": 5000.0, "bytes_written": 2000.0}
    passes, ops, per_op = [], [], {}
    for p in range(2):
        passes.append({"pass": p, "timed_s": 1.0 + p, "wall_s": 1.5 + p, "gc_s": 0.1,
                       "jit_s": 0.5, "ok": True,
                       "extra": {"store_bytes": 300.0, "head_bytes": 200.0} if kind == "stream" else {}})
        for i, n in enumerate(names):
            oid = f"p{p}/{n}"
            ops.append({"pass": p, "idx": i, "name": n, "id": oid, "wall_s": 0.5 + i,
                        "parts": parts, "ok": True, "heap_after_gc_mb": 100.0 + i,
                        "fs": fs if traced else {},
                        "extra": {"slice_bytes": 1000.0} if traced and kind == "stream" else {}})
            per_op[oid] = {"jobs": 3, "stages": 4, "tasks": 8, "executor_run_s": 0.2,
                           "executor_cpu_s": 0.1, "shuffle_read_bytes": 10,
                           "shuffle_write_bytes": 10, "spill_bytes": 0, "driver_gap_s": 0.05,
                           "publish_s": 0.02}
    workload = next(k for k, v in spec["workloads"].items() if v["kind"] == kind)
    raw = {"workload": workload, "session_ready_s": 4.0, "setup_s": [0.5, 0.4, 0.6],
           "passes": passes, "ops": ops, "code_cache_mb": 50.0,
           "traced": {"listeners": 1 if traced else 0}}
    if traced:
        raw["traced"].update({"ops": per_op, "pair_yield": {"candidates": 10, "verified": 4}})
    return spec, raw


def test_metric_names():
    bench = run.load_json(os.path.join(run.ROOT, "BENCHMARK.json"))
    want_e2e = {m["name"] for m in bench["end_to_end"]}
    want_layer = {m["name"] for m in bench["per_layer"]}
    for kind in ("catalog", "stream"):
        spec, raw = synthetic_raw(kind, False)
        expect(set(run.end_to_end(raw, spec)) == want_e2e,
               f"{kind}: end-to-end metric names equal BENCHMARK.json's")
        spec, raw = synthetic_raw(kind, True)
        got = set(run.per_layer(raw, spec, 1.0))
        expect(got == want_layer, f"{kind}: per-layer metric names equal BENCHMARK.json's "
               f"{sorted(got ^ want_layer) or ''}")
    spec = run.load_json(os.path.join(HERE, "spec.json"))
    for path in sorted(glob.glob(os.path.join(run.BUILD, "run", "*", "raw.json"))):
        raw = run.load_json(path)
        name = os.path.basename(os.path.dirname(path))
        if raw["workload"] not in spec["workloads"]:
            continue
        if raw["trace"]:
            ok = set(run.per_layer(raw, spec, 1.0)) == want_layer
        else:
            ok = set(run.end_to_end(raw, spec)) == want_e2e
            expect(raw["traced"]["listeners"] == 0 and raw["fs_class"] != "graftbench.CountingFs",
                   f"untraced run {name} attached no listener and no counting file system")
        expect(ok, f"run {name}: metric names equal BENCHMARK.json's")


def test_corruption_caught():
    data = os.path.join(WORK, "a")
    sql = "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 7 = 1"
    checker = Checker(run.ROOT, data, {"probe": sql}, os.path.join(WORK, "tmp"),
                      os.path.join(WORK, "oracle_cache"))
    table = duckdb.connect().execute(
        sql.replace("customer", f"'{data}/customer.parquet'")).arrow()

    def write(t, name):
        path = os.path.join(WORK, "out", name)
        os.makedirs(path, exist_ok=True)
        pq.write_table(t, os.path.join(path, "part-0.parquet"))
        return path

    expect(checker.check("probe", write(table, "good")) is None, "a correct output passes")
    bal = table.column("c_acctbal").to_pylist()
    bal[3] = bal[3] + 0.01
    changed = table.set_column(2, "c_acctbal", pa.array(bal))
    expect(checker.check("probe", write(changed, "value")) is not None,
           "a changed value is caught")
    expect(checker.check("probe", write(table.slice(1), "row")) is not None,
           "a missing row is caught")
    retyped = table.set_column(0, "c_custkey", table.column("c_custkey").cast(pa.float64()))
    expect(checker.check("probe", write(retyped, "type")) is not None,
           "an integer column written as float is caught")
    expect(checker.check("probe", os.path.join(WORK, "out", "absent")) is not None,
           "a missing output is caught")
    for path in sorted(glob.glob(os.path.join(run.BUILD, "run", "*-0", "raw.json")))[:1]:
        raw = run.load_json(path)
        op = next((o for o in raw["ops"] if o.get("output")), None)
        if op and os.path.isdir(op["output"]) and "data" in raw:
            real = Checker(run.ROOT, raw["data"], raw["oracles"], os.path.join(WORK, "tmp"),
                           os.path.join(run.BUILD, "oracle_cache"))
            t = pq.read_table(op["output"]).slice(1)
            expect(real.check(op["oracle"], write(t, "real")) is not None,
                   f"engine output of {op['id']} with a row dropped is caught")


def main():
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    test_inputs()
    test_metric_names()
    test_corruption_caught()
    shutil.rmtree(WORK, ignore_errors=True)
    print(f"{len(failures)} failed" if failures else "all passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
