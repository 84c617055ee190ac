#!/usr/bin/env python3
"""graft benchmark: one workload per invocation.

    python3 perfbench/run.py --workload batch --seed 3 --seconds 50 --trace 0

Run from the root of a graft checkout. The first run builds the engine and
the harness in perfbench/jvm with sbt (offline); later runs reuse the build
while no source changed. The first corpus_stream run of a build also
writes the trigger slices, with the engine, in a JVM of their own. The
seed picks the input variant (perfbench/inputs.py). One JVM with one
SparkSession at local[min(nproc, 4)] runs the workload as a closed loop
with one client; every operation's output is then checked against its
catalog entry's oracle SQL in DuckDB.

Every run does the same fixed work, a cold pass and a warm pass over the
workload (spec.json), so that two commits are compared on equal work.
--seconds is therefore nominal: on a 4-core host a run takes about 45 s
(batch) to 70 s (corpus_stream), and BENCHMARK.json's run_seconds is the
largest value it may declare. A traced run with no untraced run of the
same workload, seed and build to compare against runs that one after it
when it fits the time limit (and otherwise compares with the median of
that build's other seeds).
Workloads, the module attribution of catalog entries and the layer-metric
table are in perfbench/spec.json.

The last line of standard output is one JSON object: correct, attempted,
failed and metrics. With --trace 0 the metrics are BENCHMARK.json's
end_to_end metrics; with --trace 1 a separately traced run (Spark
listener, file-system counters, operation tags) gives the per_layer
metrics. The line before it carries the details: sample counts,
quartiles, tail percentile, contention and tracing overhead.

Exit status: 0 when every output is correct, 1 when an operation failed
or an output is wrong, 2 when the benchmark could not run at all.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_DIR = os.path.join(HERE, "jvm")
LAUNCH = os.path.join(JVM_DIR, "target", "launch")
CONTENDED_EXT_CPU = 1.0   # cores busy outside this JVM during the window


class Fatal(Exception):
    """The benchmark cannot produce a result."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_json(path):
    with open(path) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(JVM_DIR, "build.sbt"),
            os.path.join(JVM_DIR, "project"), os.path.join(JVM_DIR, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine and harness unless the sources are unchanged; returns
    the java command prefix (JVM options), the classpath and the source
    stamp."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise Fatal(f"no graft engine sources at {ROOT} (missing {need})")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "build.stamp")
    fresh = (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
             and os.path.exists(os.path.join(LAUNCH, "classpath")))
    if not fresh:
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true")
        # launch with build.sbt's default javaOptions, which read these
        for var in ("SPARK_DRIVER_MEM", "SPARK_GRAFT_CODECACHE"):
            env.pop(var, None)
        log("building engine and harness with sbt")
        with open(os.path.join(BUILD, "build.log"), "w") as out:
            try:
                rc = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                    cwd=JVM_DIR, env=env, stdout=out, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, timeout=780).returncode
            except (OSError, subprocess.TimeoutExpired) as e:
                raise Fatal(f"sbt did not run: {e}")
        if rc != 0:
            raise Fatal(f"sbt failed (rc={rc}); see {BUILD}/build.log")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(os.path.join(LAUNCH, "java_options")) as f:
        opts = [line for line in f.read().splitlines() if line]
    with open(os.path.join(LAUNCH, "classpath")) as f:
        cp = f.read().strip()
    return ["java"] + opts, cp, stamp


# ---------------------------------------------------------------- run

def harness(java, cp, spec, workload, data, out, extra, deadline):
    """Runs graftbench.Main in a fresh JVM with its files under `out`;
    returns its exit code."""
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(os.path.join(out, "tmp"))
    cpus = min(os.cpu_count() or 1, spec["cpus_max"])
    args = ["--workload", workload, "--data", data, "--out", out, "--cpus", str(cpus)] + extra
    # keep the JVM's temporary files inside the checkout: java.io.tmpdir,
    # and no hsperfdata file (always under the system temp directory)
    cmd = java[:1] + [f"-Djava.io.tmpdir={out}/tmp", "-XX:-UsePerfData"] + java[1:] + \
        ["-cp", cp, "graftbench.Main"] + args
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        try:
            return subprocess.run(cmd, cwd=out, stdout=logf, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL,
                                  timeout=max(10.0, deadline - time.monotonic())).returncode
        except subprocess.TimeoutExpired:
            raise Fatal(f"{workload} JVM exceeded its time limit; see {out}/jvm.log")


def slices_dir(java, cp, spec, workload, data, manifest, stamp, deadline):
    """A stream workload's trigger slices, written once per build and
    documents' contents (which every seeded variant shares) by a JVM of
    their own, so that no measured JVM warms up on writing them."""
    wl = spec["workloads"][workload]
    content = manifest["tables"]["documents"]["content_sha256"][:16]
    path = os.path.join(BUILD, "slices", f"{stamp[:16]}-{content}-t{wl['triggers']}")
    if not os.path.exists(os.path.join(path, "_COMPLETE")):
        log("writing the trigger slices")
        out = os.path.join(BUILD, "run", f"{workload}-prepare")
        rc = harness(java, cp, spec, workload, data, out,
                     ["--triggers", str(wl["triggers"]), "--slices", path, "--prepare", "1"],
                     deadline)
        if rc != 0:
            raise Fatal(f"writing the trigger slices failed (rc={rc}); see {out}/jvm.log")
    return path


def run_jvm(java, cp, spec, workload, data, slices, out, trace, deadline):
    wl = spec["workloads"][workload]
    extra = ["--trace", "1" if trace else "0"]
    if wl["kind"] == "catalog":
        extra += ["--ops", ",".join(wl["ops"])]
    else:
        extra += ["--triggers", str(wl["triggers"]), "--slices", slices]
    load1 = os.getloadavg()[0]
    t0 = time.monotonic()
    rc = harness(java, cp, spec, workload, data, out, extra, deadline)
    raw_path = os.path.join(out, "raw.json")
    if rc != 0 or not os.path.exists(raw_path):
        raise Fatal(f"{workload} JVM failed (rc={rc}); see {out}/jvm.log")
    raw = load_json(raw_path)
    raw["load1_start"] = load1
    log(f"JVM {workload}: {time.monotonic() - t0:.1f} s wall, session {raw['session_ready_s']:.1f} s, "
        f"inputs {raw['prepare_s']:.1f} s, set-up {sum(raw['setup_s']):.1f} s, window {raw['window_s']:.1f} s")
    return raw


def module_match(name, prefixes):
    """spec.json's attribution: an entry id (the name up to its first "_")
    matches "c9" exactly, or "g" as a family letter followed by digits."""
    eid = name.split("_")[0]
    return any(eid == p or (len(p) == 1 and eid[0] == p and eid[1:].isdigit())
               for p in prefixes)


def timed_passes(raw):
    """The warm passes: every pass after the cold pass 0."""
    return [p for p in raw["passes"] if p["pass"] >= 1]


def timed_ops(raw):
    return [o for o in raw["ops"] if o["pass"] >= 1]


def quartiles(xs):
    if len(xs) < 2:
        return [xs[0]] * 3
    return statistics.quantiles(xs, n=4, method="inclusive")


def tail(xs):
    """Highest percentile with at least ten samples beyond it, or None."""
    xs = sorted(xs)
    if len(xs) < 11:
        return None
    k = len(xs) - 11
    return {"value": xs[k], "percentile": round(100.0 * (k + 1) / len(xs), 1), "n": len(xs)}


def check_outputs(raw, data, spec, workload, out):
    """(attempted, failed, problems): every operation of every pass counts;
    an operation fails if it threw or its output (or, for a stream, its
    pass's served output) differs from the oracle."""
    from verify import Checker
    tmp = os.path.join(out, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    checker = Checker(ROOT, data, raw["oracles"], tmp, os.path.join(BUILD, "oracle_cache"))
    problems = []
    bad_pass = {}
    for c in raw["checks"]:
        why = checker.check(c["oracle"], c["output"])
        if why:
            bad_pass[c["pass"]] = True
            problems.append(f"pass {c['pass']} {c['oracle']}: {why}")
    stream = spec["workloads"][workload]["kind"] == "stream"
    checked = {c["pass"] for c in raw["checks"]}
    failed = 0
    for o in raw["ops"]:
        if not o["ok"]:
            failed += 1
            problems.append(f"{o['id']} threw: {o['error']}")
        elif stream:
            if bad_pass.get(o["pass"]) or o["pass"] not in checked:
                failed += 1
        else:
            why = checker.check(o["oracle"], o["output"])
            if why:
                failed += 1
                problems.append(f"{o['id']}: {why}")
    return len(raw["ops"]), failed, problems


def latency_samples(raw, spec):
    """Warm latencies of the workload's user-facing operations."""
    which = spec["workloads"][raw["workload"]]["latency_ops"]
    return [o["wall_s"] for o in timed_ops(raw) if which == "all" or o["name"] in which]


def end_to_end(raw, spec):
    warm = [p["timed_s"] for p in timed_passes(raw)]
    heaps = [o["heap_after_gc_mb"] for o in raw["ops"]]
    return {
        "setup_s": raw["session_ready_s"] + statistics.median(raw["setup_s"]),
        "cold_s": raw["passes"][0]["timed_s"],
        "warm_s": statistics.median(warm),
        "op_p50_s": statistics.median(latency_samples(raw, spec)),
        "peak_heap_mb": max(heaps),
    }


def per_layer(raw, spec, untraced_warm):
    """Layer metrics of a traced run; 0 where the workload does not touch
    the layer."""
    tr = raw["traced"]["ops"]
    ops = timed_ops(raw)
    entries = sorted({e for w in spec["workloads"].values() for e in w.get("ops", [])})
    mods = {m: p for m, p in spec["modules"].items() if m.startswith("operators.")}

    def module_of(name):
        return next((m for m, prefixes in mods.items() if module_match(name, prefixes)), None)

    def per_pass(value, select=lambda o: True):
        """Sum of value(op) over the warm pass."""
        return sum(value(o) for o in ops if select(o))

    def med(xs):
        xs = list(xs)
        return statistics.median(xs) if xs else 0.0

    def sp(key):
        return lambda o: tr[o["id"]][key]

    def fs(key):
        return lambda o: o["fs"].get(key, 0.0)

    def part(key):
        return lambda o: o["parts"].get(key, 0.0)

    stream = spec["workloads"][raw["workload"]]["kind"] == "stream"
    trig = ops if stream else []
    m = {
        "queries.run_s": per_pass(part("run")),
        "queries.action_s": per_pass(part("action")),
        "spark.jobs": per_pass(sp("jobs")),
        "spark.stages": per_pass(sp("stages")),
        "spark.tasks": per_pass(sp("tasks")),
        "spark.driver_gap_s": per_pass(sp("driver_gap_s")),
        "spark.executor_run_s": per_pass(sp("executor_run_s")),
        "spark.executor_cpu_s": per_pass(sp("executor_cpu_s")),
        "spark.shuffle_read_bytes": per_pass(sp("shuffle_read_bytes")),
        "spark.shuffle_write_bytes": per_pass(sp("shuffle_write_bytes")),
        "spark.spill_bytes": per_pass(sp("spill_bytes")),
        "jvm.gc_s": raw["passes"][0]["gc_s"],
        "jvm.jit_s": raw["passes"][0]["jit_s"],
        "jvm.code_cache_mb": raw["code_cache_mb"],
        "jvm.heap_after_gc_mb": end_to_end(raw, spec)["peak_heap_mb"],
        "streaming.EventStream.admit_s": med(o["parts"]["admit"] for o in trig),
        "streaming.EventStream.intake_s": med(o["parts"]["intake"] for o in trig),
        "sources.read_amp": med(o["fs"]["bytes_read"] / o["extra"]["slice_bytes"] for o in trig),
        "sources.write_amp": med(o["fs"]["bytes_written"] / o["extra"]["slice_bytes"] for o in trig),
        "sources.space_amp": 0.0,
        "sources.ManifestStore.publish_s": med(tr[o["id"]]["publish_s"] for o in trig),
        "sources.ManifestStore.read_s": med(o["parts"]["read"] for o in trig),
        "sources.fs_read_ops": per_pass(fs("read_ops")),
        "sources.fs_list_ops": per_pass(fs("list_ops")),
        "sources.fs_write_ops": per_pass(fs("write_ops")),
        "sources.files_committed": per_pass(fs("files_created")),
        "sources.Tables.scan_bytes": per_pass(fs("bytes_read")),
        "trace.warm_s": end_to_end(raw, spec)["warm_s"],
        "trace.overhead_s": end_to_end(raw, spec)["warm_s"] - untraced_warm,
    }
    if stream:
        last = raw["passes"][-1]["extra"]
        m["sources.space_amp"] = last["store_bytes"] / last["head_bytes"]
    for mod in mods:
        sel = lambda o, mod=mod: module_of(o["name"]) == mod  # noqa: E731
        m[f"{mod}.wall_s"] = per_pass(lambda o: o["wall_s"], sel)
        m[f"{mod}.jobs"] = per_pass(sp("jobs"), sel)
        extra = "driver_gap_s" if mod == "operators.Graph" else "executor_cpu_s"
        m[f"{mod}.{extra}"] = per_pass(sp(extra), sel)
    py = raw["traced"].get("pair_yield") or {}
    m["operators.Dedup.pair_yield"] = (py["verified"] / py["candidates"]
                                       if py.get("candidates") else 0.0)
    for e in entries:
        m[f"queries.op_s.{e}"] = med(o["wall_s"] for o in ops if o["name"] == e)
    return m


def untraced_path(workload, seed, stamp):
    """The record of an untraced run's warm_s, which the tracing overhead is
    taken against: same workload, same seed, same build."""
    return os.path.join(BUILD, "untraced", f"{workload}-seed{seed}-{stamp[:16]}.json")


def untraced_record(workload, seed, stamp):
    path = untraced_path(workload, seed, stamp)
    return load_json(path)["warm_s"] if os.path.exists(path) else None


def untraced_other_seeds(workload, stamp):
    """warm_s of the untraced runs of this workload and build, any seed."""
    tail = f"-{stamp[:16]}.json"
    d = os.path.join(BUILD, "untraced")
    return [load_json(os.path.join(d, f))["warm_s"] for f in sorted(os.listdir(d))
            if f.startswith(f"{workload}-seed") and f.endswith(tail)] if os.path.isdir(d) else []


def remember_untraced(workload, seed, stamp, warm_s):
    path = untraced_path(workload, seed, stamp)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"warm_s": warm_s}, f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="nominal run length; the work per run is fixed")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    sys.path.insert(0, HERE)
    spec = load_json(os.path.join(HERE, "spec.json"))
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    if a.workload not in spec["workloads"]:
        raise Fatal(f"unknown workload {a.workload}; have {sorted(spec['workloads'])}")
    os.makedirs(BUILD, exist_ok=True)
    java, cp, stamp = build()
    # the first run of a checkout may spend most of its time building
    deadline = time.monotonic() + 175.0

    import inputs
    data = os.path.join(BUILD, "inputs", f"seed-{a.seed}")
    manifest = inputs.ensure(a.seed, data)
    slices = (slices_dir(java, cp, spec, a.workload, data, manifest, stamp, deadline)
              if spec["workloads"][a.workload]["kind"] == "stream" else None)

    out = os.path.join(BUILD, "run", f"{a.workload}-{a.trace}")
    t_run = time.monotonic()
    raw = run_jvm(java, cp, spec, a.workload, data, slices, out, bool(a.trace), deadline)
    untraced_warm, basis = None, "same seed and build"
    if a.trace:
        untraced_warm = untraced_record(a.workload, a.seed, stamp)
        others = untraced_other_seeds(a.workload, stamp)
        # an untraced run of this seed is measured when none is recorded and
        # a second JVM still fits the time limit; otherwise the overhead is
        # taken against the median of this build's other seeds
        fits = deadline - time.monotonic() > 1.2 * (time.monotonic() - t_run)
        if untraced_warm is None and (fits or not others):
            log("no untraced run of this workload, seed and build yet; measuring one")
            base = run_jvm(java, cp, spec, a.workload, data, slices,
                           os.path.join(BUILD, "run", f"{a.workload}-0"), False, deadline)
            untraced_warm = end_to_end(base, spec)["warm_s"]
            remember_untraced(a.workload, a.seed, stamp, untraced_warm)
        elif untraced_warm is None:
            untraced_warm = statistics.median(others)
            basis = f"median of {len(others)} other seeds of this build"
            log(f"no time left for an untraced run of this seed; overhead against the {basis}")
    t_check = time.monotonic()
    attempted, failed, problems = check_outputs(raw, data, spec, a.workload, out)
    log(f"output checks: {time.monotonic() - t_check:.1f} s")
    for p in problems[:20]:
        log(f"FAILED {p}")

    e2e = end_to_end(raw, spec)
    if not a.trace:
        remember_untraced(a.workload, a.seed, stamp, e2e["warm_s"])
        values = e2e
        declared = bench["end_to_end"]
    else:
        values = per_layer(raw, spec, untraced_warm)
        declared = bench["per_layer"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}

    warm = [p["timed_s"] for p in timed_passes(raw)]
    ext_cpu = (raw["host_busy_s"] - raw["own_cpu_s"]) / raw["window_s"]
    # the load average lags by a minute, so back-to-back runs read their
    # predecessor's load; only CPU used outside this JVM flags contention
    contended = ext_cpu > CONTENDED_EXT_CPU
    if contended:
        log(f"CONTENDED run: load {raw['load1_start']:.2f} at start, "
            f"{ext_cpu:.2f} external cores during the window")
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "warm_s": {"median": e2e["warm_s"], "quartiles": quartiles(warm), "n": len(warm)},
        "op_latency_s": {"p50": e2e["op_p50_s"], "n": len(latency_samples(raw, spec)),
                         "tail": tail(latency_samples(raw, spec))},
        "fail_ratio": failed / attempted,
        "contention": {"load1_start": raw["load1_start"], "ext_cpu_cores": ext_cpu,
                       "contended": contended},
        # setup_s takes the median set-up rep; the first rep is the cold one
        "setup_reps_s": raw["setup_s"],
        "window_s": raw["window_s"], "passes": len(raw["passes"]),
        "inputs": {t: {k: v[k] for k in ("rows", "bytes")}
                   for t, v in manifest["tables"].items()},
        "listeners_attached": raw["traced"]["listeners"], "fs_class": raw["fs_class"],
    }
    if a.trace:
        detail["tracing_overhead_s"] = values["trace.overhead_s"]
        detail["tracing_overhead_basis"] = basis
        detail["spans"] = os.path.relpath(os.path.join(out, "spans.jsonl"), ROOT)
        log(f"tracing overhead: traced warm_s {values['trace.warm_s']:.4f} - untraced "
            f"warm_s {untraced_warm:.4f} = {values['trace.overhead_s']:.4f} s")
    elif raw["traced"]["listeners"] != 0 or raw["fs_class"] == "graftbench.CountingFs":
        raise Fatal("the untraced run attached instrumentation")
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    # a terminated run raises SystemExit, and subprocess.run kills its child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except Fatal as e:
        log(f"error: {e}")
        sys.exit(2)
