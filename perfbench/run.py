#!/usr/bin/env python3
"""Benchmark of graft's Level-2 ingest path, its read path and its query
surface. Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Workloads: ingest, query_mix (see README.md).
Builds the program and the benchmark from source when either changed,
runs the workload in one JVM, checks its outputs, and prints one JSON
line with the metrics BENCHMARK.json declares: the end-to-end ones with
--trace 0, the per-layer ones with --trace 1. Exits non-zero when the
run or an output check fails.
"""

import argparse
import glob
import hashlib
import json
import os
import pathlib
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402

WORKLOADS = ("ingest", "query_mix")
OUT = HERE / "out"
WORK = HERE / "work"
TARGET = HERE / "target"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
# layers each workload drives; per-layer metrics of the others read 0
LAYERS = {
    "ingest": ("source", "stream", "parse", "state", "sink", "read", "jvm", "gen"),
    "query_mix": ("query", "jvm"),
}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


# processes this run started, each in its own process group; a signal to
# this script takes them down with it
_children = []


def _stop_children(signum, _frame):
    for p in _children:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout.
    Returns (exit code or None on timeout, stdout or None)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(p)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    finally:
        _children.remove(p)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"FAILED: {msg}")
    sys.exit(1)


def source_stamp():
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for base in (ROOT / "project", HERE / "project"):
        files += sorted(base.glob("*.sbt")) + sorted(base.glob("*.properties"))
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark with sbt when their sources
    changed; returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail("no graft sources next to the benchmark: run from a full checkout")
    stamp = source_stamp()
    cp_file, stamp_file = TARGET / "runtime.classpath", TARGET / "sources.sha256"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # every JVM sbt starts keeps its temp files under work/ and writes no
    # performance-data file to the system temp dir
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile)")
    t0 = time.time()
    code, out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export perfbench/Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                          cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    lines = [ln for ln in (out or "").splitlines()
             if "scala-2.13" in ln and not ln.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write((out or "")[-6000:])
        fail("build timed out" if code is None else "build failed")
    TARGET.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1]


def run_jvm(cp, args, log_path):
    """Run perfbench.Main; its own output goes to `log_path`."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # a fixed, pre-touched heap: peak RSS then reads the heap size plus the
    # native footprint, not how far the collector happened to grow the heap
    cmd = ["java", *ADD_OPENS, "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main", *args]
    with open(log_path, "w") as lf:
        code, _ = run_child(cmd, JVM_TIMEOUT_S, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)
    if code != 0:
        sys.stderr.write(pathlib.Path(log_path).read_text()[-6000:])
        fail("benchmark JVM timed out" if code is None else f"benchmark JVM exited {code}")


# fewest operation latencies a run of each workload yields: ingest's
# read loop times at least 40 reads, query_mix 16 queries cold and warm
MIN_OPS = {"ingest": 40, "query_mix": 32}


def op_metrics(samples, workload):
    """p50 and the tail percentile of a workload's operation latencies, as
    Harrell-Davis estimates. The tail is fixed per workload: the highest
    percentile its minimum sample count supports with ten samples beyond
    it. Fewer samples is an error, not a number."""
    need = MIN_OPS[workload]
    if len(samples) < need:
        raise ValueError(f"{len(samples)} latency samples, {workload} needs {need}")
    return (metrics.hd_quantile(samples, 50),
            metrics.hd_quantile(samples, metrics.tail_percentile(need)))


def query_rows(raw):
    """Per-query artifact: one cold and one warm row per query, each the
    median over the run's repetitions, with the task-level columns."""
    cols = [k for k in raw["queries"][0] if k.endswith(("_ms", "_bytes")) or k in (
        "jobs", "stages", "tasks", "rows")]
    cols = [c for c in cols if c not in ("start_ms", "end_ms")]
    out = []
    for name in dict.fromkeys(q["query"] for q in raw["queries"]):
        by_mode = {}
        for mode in ("cold", "warm"):
            reps = [q for q in raw["queries"] if q["query"] == name and q["mode"] == mode]
            by_mode[mode] = {c: statistics.median(q[c] for q in reps) for c in cols}
        for mode in ("cold", "warm"):
            row = {"query": name, "mode": mode, "reps": sum(
                1 for q in raw["queries"] if q["query"] == name and q["mode"] == mode)}
            row.update(by_mode[mode])
            row["cold_over_warm"] = by_mode["cold"]["total_ms"] / by_mode["warm"]["total_ms"]
            out.append(row)
    return out


def query_layers(raw):
    """query.* per-layer metrics: sums over one warm mix (median across the
    run's warm mixes); cold_over_warm compares the median mixes."""
    reps = sorted({q["rep"] for q in raw["queries"]})
    per_rep = []
    for r in reps:
        qs = [q for q in raw["queries"] if q["rep"] == r and q["mode"] == "warm"]
        per_rep.append({
            "query.analysis_ms": sum(q["analysis_ms"] for q in qs),
            "query.optimization_ms": sum(q["optimization_ms"] for q in qs),
            "query.planning_ms": sum(q["planning_ms"] for q in qs),
            "query.exec_ms": sum(q["exec_ms"] for q in qs),
            "query.driver_floor_ms": sum(q["driver_floor_ms"] for q in qs),
            "query.jobs": sum(q["jobs"] for q in qs),
            "query.stages": sum(q["stages"] for q in qs),
            "query.tasks": sum(q["tasks"] for q in qs),
            "query.executor_cpu_ms": sum(q["executor_cpu_ms"] for q in qs),
            "query.executor_run_ms": sum(q["executor_run_ms"] for q in qs),
            "query.shuffle_read_bytes": sum(q["shuffle_read_bytes"] for q in qs),
            "query.shuffle_write_bytes": sum(q["shuffle_write_bytes"] for q in qs),
            "query.spill_bytes": sum(q["spill_bytes"] for q in qs),
        })
    out = {k: statistics.median(r[k] for r in per_rep) for k in per_rep[0]}
    mixes = raw["mix_ms"]
    cold = statistics.median(m["ms"] for m in mixes if m["mode"] == "cold")
    warm = statistics.median(m["ms"] for m in mixes if m["mode"] == "warm")
    out["query.cold_over_warm"] = cold / warm
    return out


def end_to_end(raw):
    """The end-to-end metrics of one untraced run, by name."""
    if raw["workload"] == "query_mix":
        batch = statistics.median(m["ms"] for m in raw["mix_ms"] if m["mode"] == "cold") / 1000
        # the cold mix and the first warm one: a faster host runs more warm
        # mixes in the same seconds, which must not change the sample's mix
        ops = [q["total_ms"] for q in raw["queries"] if q["mode"] == "cold" or q["rep"] == 0]
    else:
        batch = raw["batch_s"]
        ops = raw["op_ms"]
    p50, tail = op_metrics(ops, raw["workload"])
    return {"setup_s": raw["setup_s"], "peak_rss_mb": raw["peak_rss_mb"], "batch_s": batch,
            "op_p50_ms": p50, "op_tail_ms": tail}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cp = build()
    tag = f"{a.workload}-seed{a.seed}-t{a.trace}"
    work = WORK / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    OUT.mkdir(parents=True, exist_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--out", str(OUT / f"{tag}.raw.json")]
    if a.workload == "query_mix":
        import gen_tables
        gen_tables.generate(work / "tables", a.seed)
        args += ["--tables", str(work / "tables")]
    run_jvm(cp, args, OUT / f"{tag}.log")
    raw = json.loads((OUT / f"{tag}.raw.json").read_text())

    checks = list(raw.get("checks", []))
    attempted, failed = raw["attempted"], raw["failed"]
    if a.workload == "query_mix":
        import oracle
        verdicts = oracle.check(work / "tables", pathlib.Path(raw["results_dir"]))
        for name, err in sorted(verdicts.items()):
            checks.append({"name": f"{name} = DuckDB oracle", "ok": err is None,
                           "detail": err or "hash-equal"})
            if err is not None:
                # a wrong answer fails every execution of that query
                failed += sum(1 for q in raw["queries"] if q["query"] == name)
        (OUT / f"query_mix-seed{a.seed}-t{a.trace}.queries.json").write_text(
            json.dumps(query_rows(raw), indent=1))
    bad = [c for c in checks if not c["ok"]]
    for c in checks:
        log(f"check {'ok ' if c['ok'] else 'BAD'} {c['name']}: {c['detail']}")
    log(f"attempted={attempted} failed={failed} "
        f"failed_frac={metrics.failed_frac(attempted, failed):.4f}")
    if raw.get("read_errors"):
        log(f"read errors: {raw['read_errors']}")

    if a.trace == 0:
        try:
            values = end_to_end(raw)
        except ValueError as e:
            fail(str(e))
        declared = spec["end_to_end"]
    else:
        values = dict(raw["layers"])
        if a.workload == "query_mix":
            values.update(query_layers(raw))
        else:
            fresh = [f for fs in raw["freshness_ms"].values() for f in fs]
            values["stream.freshness_p50_ms"] = metrics.hd_quantile(fresh, 50)
            values["stream.freshness_p90_ms"] = metrics.hd_quantile(fresh, 90)
            values["read.p50_ms"] = metrics.hd_quantile(raw["op_ms"], 50)
            values["gen.late_ms"] = max(metrics.lateness(raw["due_ms"], raw["emitted_ms"]))
        declared = spec["per_layer"]
        report = trace_report(raw, OUT / f"{tag}.raw.json.spans.json", values)
        (OUT / f"{tag}.trace.json").write_text(json.dumps(report, indent=1))
        for root, t in report["self_time"].items():
            log(f"self time under '{root}' (wall {t['wall_ms']:.0f} ms): " + ", ".join(
                f"{k} {v:.0f}" for k, v in t["self_ms"].items()))
    result = {}
    for m in declared:
        name = m["name"]
        if name not in values:
            if name.split(".")[0] in LAYERS[a.workload]:
                fail(f"metric {name} missing from a workload that drives its layer")
            values[name] = 0.0
        result[name] = {"value": values[name], "unit": m["unit"]}
        log(f"{name} = {values[name]:.6g} {m['unit']}")
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": result}))
    if bad:
        sys.exit(1)


def trace_report(raw, spans_path, layer_values):
    """Self-time table of the traced run, and the tracing overhead as this
    run's end-to-end metrics minus those of the latest untraced run of the
    same workload in this checkout."""
    spans = json.loads(spans_path.read_text())
    report = {"workload": raw["workload"], "seed": raw["seed"],
              "self_time": metrics.self_times(spans)}
    untraced = sorted(glob.glob(str(OUT / f"{raw['workload']}-seed*-t0.raw.json")),
                      key=os.path.getmtime)
    try:
        base = end_to_end(json.loads(pathlib.Path(untraced[-1]).read_text()))
        mine = end_to_end(raw)
        report["overhead_vs"] = pathlib.Path(untraced[-1]).name
        report["tracing_overhead"] = {k: mine[k] - base[k] for k in mine}
    except (IndexError, ValueError) as e:
        report["tracing_overhead"] = f"not measured: {e or 'no untraced run of this workload'}"

    report["per_layer"] = layer_values
    return report


if __name__ == "__main__":
    main()
