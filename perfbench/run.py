#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload olap_short --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the engine
(``src/main/scala``) together with the harness (``perfbench/src``) with the
Scala compiler from the engine's jar directory (``unmanagedBase`` in the
root ``build.sbt``) into ``.bench_build/``. The tables are the sf0.1
fixtures in ``perfbench/sf0.1``.

The harness JVM (``graft.perfbench.Main``) writes one record per set-up,
item execution and pass; this script checks every output against
``perfbench/expected.json`` and prints, as its last stdout line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. Traced runs also leave their spans and the executed plans of
every key under ``.bench_build/trace/<workload>-<seed>/``; untraced runs
leave their raw records in ``.bench_build/records/<workload>-<seed>.jsonl``.

``--record`` re-records ``expected.json`` from the run's outputs instead of
checking them (run it twice per workload, with two seeds: a digest that
differs between runs is dropped and that key is checked by row count).
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
EXPECTED = HERE / "expected.json"
DATA = HERE / "sf0.1"
DEADLINE_S = 170
MIB = 1 << 20
SETUP_REPS = 3

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def jar_dir():
    """The engine's jar directory, as the root build.sbt declares it."""
    sbt = ROOT / "build.sbt"
    if not sbt.is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources under {ROOT} (build.sbt, src/main/scala); "
             "run from the root of a full checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    jars = Path(m.group(1)) if m else Path(os.environ.get("SPARK_HOME", "")) / "jars"
    if not jars.is_dir():
        fail(f"engine jar directory {jars} not found")
    return jars


def build(jars):
    """Compiles engine + harness once per source digest into a jar;
    returns the classpath."""
    srcs = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala")) + \
        sorted((HERE / "src").rglob("*.scala"))
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    out = BUILD / "classes" / h.hexdigest()[:16]
    jar = out / "perfbench.jar"
    cp = [str(jar)] + [str(j) for j in sorted(jars.glob("*.jar"))]
    if not (out / "_OK").exists():
        shutil.rmtree(BUILD / "classes", ignore_errors=True)
        classes = out / "classes"
        classes.mkdir(parents=True)
        cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m",
               "-cp", os.pathsep.join(cp[1:]), "scala.tools.nsc.Main",
               "-usejavacp", "-nowarn", "-d", str(classes)] + [str(p) for p in srcs]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout)
            fail("compilation failed")
        with zipfile.ZipFile(jar, "w") as z:
            for f in sorted(classes.rglob("*")):
                z.write(f, f.relative_to(classes).as_posix())
        shutil.rmtree(classes)
        (out / "_OK").touch()
    return cp


def driver_mem():
    """ROADMAP's SPARK_DRIVER_MEM rule: half the host memory, 2-8 GiB."""
    try:
        kb = next(int(line.split()[1]) for line in open("/proc/meminfo")
                  if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def slots():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_args(workload, seed, seconds, trace, data, items, min_passes, landing):
    return {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "data": data, "items": ",".join(items), "setup-reps": SETUP_REPS,
        "min-passes": min_passes, "slots": slots(),
        "land-files": landing.get("files", 0),
        "land-rows": landing.get("rows_per_file", 0),
        "bad-share": landing.get("bad_share", 0),
        "accounts": landing.get("accounts", 0)}


def run_jvm(spec, cp, run_dir, deadline):
    """Runs the harness JVM in a fresh `run_dir`; returns its records."""
    for d in ("tmp", "stream", "local"):
        (run_dir / d).mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{driver_mem()}", "-Xss8m"] + \
        [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + \
        ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
         f"-Djava.io.tmpdir={run_dir / 'tmp'}",
         "-cp", os.pathsep.join(cp), "graft.perfbench.Main", "--out", str(run_dir)] + \
        [a for k, v in spec.items() for a in (f"--{k}", str(v))]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(SPARK_GRAFT_STREAM_CKPT_ROOT=str(run_dir / "stream"),
               SPARK_LOCAL_DIRS=str(run_dir / "local"))
    with open(run_dir / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             cwd=run_dir, start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if p.returncode != 0:
        sys.stderr.write((run_dir / "jvm.log").read_text()[-4000:])
        fail(f"harness JVM exited with {p.returncode}")
    records = run_dir / "records.jsonl"
    return [json.loads(line) for line in open(records)] if records.exists() else []


# ----------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def union_ms(intervals, lo, hi):
    """Length of the union of [s, e] intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def end_to_end(recs):
    setups = [r for r in recs if r["type"] == "setup"]
    warm = next(r for r in recs if r["type"] == "warm")
    passes = [r for r in recs if r["type"] == "pass" and r["phase"] == "timed"]
    timed = [r for r in recs if r["type"] == "sample" and r["phase"] == "timed"]
    per_item = {}
    for r in timed:
        per_item.setdefault(r["item"], []).append(r["ms"])
    item_medians = [median(v) for v in per_item.values()]
    return {
        "setup_s": (median([r["ms"] for r in setups]) + warm["ms"]) / 1000,
        "wall_s": sum(item_medians) / 1000,
        "key_p50_ms": median(item_medians),
        # the slowest key, by its mean: a percentile of the raw samples
        # jumps between keys whose latencies differ several times over, and
        # a median of a few passes jumps between the fast and slow modes an
        # item shows depending on what ran before it
        "key_tail_ms": max(statistics.mean(v) for v in per_item.values()),
        "retained_mb": median([(p["heap_after_gc"] + p["storage_disk"]) / MIB
                               for p in passes]),
    }


# call sites of the report DAG's transfer jobs: Transfer.transferDir and
# runReportDag's integrity count
TRANSFER_SITES = ("Transfer.scala", "PipelineMain.scala")


def report_stages(sp):
    """Sensing, transfer and ingest ms of one traced report run, from the
    spans of its key: sensing runs from the last REST call to the first
    transfer job, transfer to the end of the last transfer job, ingest from
    there to the end of the `runReportDag` call and its collect."""
    report = next(s for s in sp if s["name"] == "sources.report")
    rest_end = max(s["end"] for s in sp if s["name"] == "sources.rest")
    moves = [s for s in sp if s["name"] == "exec.job"
             and any(f in (s.get("site") or "") for f in TRANSFER_SITES)]
    if not moves:
        fail(f"report run {report['key']} has no transfer jobs")
    first = min(s["start"] for s in moves)
    last = max(s["end"] for s in moves)
    return first - rest_end, last - first, report["end"] - last


def per_layer(recs, spans, slots_n):
    setups = [r for r in recs if r["type"] == "setup"]
    warm = next(r for r in recs if r["type"] == "warm")
    timed = [r for r in recs if r["type"] == "pass" and r["phase"] == "timed"]
    traced = [r for r in recs if r["type"] == "pass" and r["phase"] == "traced"]
    keys = [r for r in recs if r["type"] == "key"]
    samples = [r for r in recs if r["type"] == "sample"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def self_ms(s):
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        return (s["end"] - s["start"]) - union_ms(kids, s["start"], s["end"])

    def per_pass(i):
        ks = [k for k in keys if k["pass"] == i]
        ids = {k["id"] for k in ks}
        sp = [s for s in spans if s["key"] in ids]
        named = lambda n: [s for s in sp if s["name"] == n]  # noqa: E731
        dur = lambda n: sum(s["end"] - s["start"] for s in named(n))  # noqa: E731
        tot = lambda f: sum(k[f] for k in ks)  # noqa: E731
        wall = next(p["wall_ms"] for p in traced if p["pass"] == i)
        job_ms = sum(union_ms([(s["start"], s["end"]) for s in named("exec.job")
                               if s["key"] == k["id"]], k["start"], k["end"]) for k in ks)
        batches = named("stream.batch")
        last = {}
        for b in sorted(batches, key=lambda b: b["batch"]):
            last[b["query"]] = b
        dock = [r for r in samples if r["phase"] == "traced" and r["pass"] == i
                and r["item"].startswith("dock.")]
        runs = tot("rule_runs")
        stages = [report_stages([s for s in sp if s["key"] == k["id"]])
                  for k in ks if k["item"] == "dock.report"]
        pass_rec = next(p for p in traced if p["pass"] == i)
        return {
            "operators.call_ms": dur("operators.call"),
            "operators.self_ms": sum(self_ms(s) for s in named("operators.call")),
            "plans.executions": len(named("plans.planning")),
            "plans.analysis_ms": dur("plans.analysis"),
            "plans.optimize_ms": dur("plans.optimization"),
            "plans.physical_ms": dur("plans.planning"),
            "plans.rule_ms": tot("rule_ms"),
            "plans.rule_runs": runs,
            "plans.rule_effective_ratio": tot("rule_effective") / runs if runs else 0.0,
            "codegen.compiles": tot("compiles"),
            "codegen.compile_ms": tot("compile_ms"),
            "exec.jobs": tot("jobs"),
            "exec.stages": tot("stages"),
            "exec.tasks": tot("tasks"),
            "exec.task_run_ms": tot("task_run_ms"),
            "exec.task_cpu_ms": tot("task_cpu_ms"),
            "exec.gc_ms": tot("gc_ms"),
            "exec.busy_base_ms": wall * slots_n,
            "exec.busy_frac": tot("task_run_ms") / (wall * slots_n),
            "exec.job_ms": job_ms,
            "exec.driver_gap_ms": sum(k["end"] - k["start"] for k in ks) - job_ms,
            "shuffle.write_bytes": tot("shuffle_write_bytes"),
            "shuffle.read_bytes": tot("shuffle_read_bytes"),
            "shuffle.fetch_wait_ms": tot("fetch_wait_ms"),
            "shuffle.spill_bytes": tot("spill_bytes"),
            "storage.retained_bytes_max": max([k["storage_bytes"] for k in ks] or [0]),
            "storage.retained_bytes_final": pass_rec["storage_mem"] + pass_rec["storage_disk"],
            "storage.persisted_rdds": pass_rec["persisted_rdds"],
            "stream.batches": len(batches),
            "stream.add_batch_ms": sum(b["add_batch_ms"] for b in batches),
            "stream.wal_commit_ms": sum(b["wal_commit_ms"] for b in batches),
            "stream.offset_commit_ms": sum(b["offset_commit_ms"] for b in batches),
            "stream.state_commit_ms": sum(b["state_commit_ms"] for b in batches),
            "stream.state_stores": sum(b["state_stores"] for b in last.values()),
            "stream.state_rows": sum(b["state_rows"] for b in last.values()),
            "sources.rest_calls": len(named("sources.rest")),
            "sources.rest_ms": dur("sources.rest"),
            "sources.sense_ms": sum(t[0] for t in stages),
            "sources.transfer_ms": sum(t[1] for t in stages),
            "sources.transfer_bytes": sum(r.get("transfer_bytes", 0) for r in dock),
            "sources.ingest_ms": sum(t[2] for t in stages),
            "sources.statements_ms": dur("sources.statements"),
            "sources.retries": sum(r.get("rest_failures", 0) for r in dock),
            "sources.self_ms": sum(self_ms(s) for s in sp
                                   if s["name"] in ("sources.report", "sources.statements")),
        }

    rows = [per_pass(p["pass"]) for p in traced]
    out = {k: median([r[k] for r in rows]) for k in rows[0]}
    timed_wall = median([p["wall_ms"] for p in timed]) / 1000
    traced_wall = median([p["wall_ms"] for p in traced]) / 1000
    timed_ms = {(r["item"], r["pass"]): r["ms"] for r in samples if r["phase"] == "timed"}
    reports = [r for r in samples if r["phase"] == "timed" and r["item"] == "dock.report"]
    dag_s = median([ms + timed_ms[("dock.statements", p)]
                    for (item, p), ms in timed_ms.items() if item == "dock.report"]) / 1000
    out.update({
        "tables.resolve_ms": median([r["tables_ms"] for r in setups]),
        "fixtures.staged_dirs": warm["staged_dirs"],
        "fixtures.staged_bytes": warm["staged_bytes"],
        "fixtures.build_s": warm["ms"] / 1000 - timed_wall,
        "sources.dag_s": dag_s,
        "sources.ingest_rows_per_s": reports[0]["valid_rows"] * 1000 /
        median([r["ms"] for r in reports]) if reports else 0.0,
        "trace.wall_s": traced_wall,
        "trace.untraced_wall_s": timed_wall,
        "trace.overhead_s": traced_wall - timed_wall,
        "trace.overhead_frac": (traced_wall - timed_wall) / timed_wall,
    })
    return out


# --------------------------------------------------------------- checking

def check(recs, expected):
    """Marks each sample ok/failed; returns the failures as messages."""
    bad = []
    for r in recs:
        if r["type"] != "sample":
            continue
        want = expected.get(r["item"])
        if "error" in r:
            msg = r["error"]
        elif "ok" in r:
            msg = None if r["ok"] else "output check failed"
        elif want is None:
            msg = "no expected output recorded"
        elif r["rows"] != want["rows"]:
            msg = f"rows {r['rows']} != expected {want['rows']}"
        elif want["digest"] is not None and r["digest"] != want["digest"]:
            msg = f"digest {r['digest']} != expected {want['digest']}"
        else:
            msg = None
        r["failed"] = msg is not None
        if msg:
            bad.append(f"{r['id']}: {msg}")
    return bad


def record(recs, expected):
    """Merges this run's outputs into `expected` (see module docstring)."""
    seen = {}
    for r in recs:
        if r["type"] == "sample" and "rows" in r:
            seen.setdefault(r["item"], set()).add((r["rows"], r["digest"]))
        if r["type"] == "sample" and "error" in r:
            fail(f"cannot record: {r['id']} failed: {r['error']}")
    for item, outs in sorted(seen.items()):
        rows = {n for n, _ in outs}
        if len(rows) != 1:
            fail(f"cannot record: {item} returned {sorted(rows)} rows across executions")
        digests = {d for _, d in outs}
        digest = digests.pop() if len(digests) == 1 else None
        prev = expected.get(item)
        if prev is not None:
            if prev["rows"] != min(rows):
                fail(f"cannot record: {item} rows {min(rows)} != recorded {prev['rows']}")
            if prev["digest"] != digest:
                digest = None
        expected[item] = {"rows": min(rows), "digest": digest}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="re-record expected.json from this run's outputs")
    args = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = json.loads((HERE / "workloads.json").read_text())
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload}; one of {sorted(workloads)}")
    wl = workloads[args.workload]
    jars = jar_dir()
    if not DATA.is_dir():
        fail(f"fixture tables {DATA} not found")
    cp = build(jars)

    run_dir = BUILD / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    spec = jvm_args(args.workload, args.seed, args.seconds, args.trace, str(DATA),
                    wl["items"], wl["min_passes"], wl.get("landing", {}))
    recs = run_jvm(spec, cp, run_dir, time.monotonic() + DEADLINE_S)

    expected = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
    if args.record:
        record(recs, expected)
        EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    bad = check(recs, expected)
    for msg in bad:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)

    scored = [r for r in recs if r["type"] == "sample" and r["phase"] != "warm"]
    if args.trace:
        spans = [json.loads(line) for line in open(run_dir / "spans.jsonl")]
        values = per_layer(recs, spans, slots())
        keep = BUILD / "trace" / f"{args.workload}-{args.seed}"
        shutil.rmtree(keep, ignore_errors=True)
        keep.mkdir(parents=True)
        for f in ("records.jsonl", "spans.jsonl", "plans"):
            shutil.move(str(run_dir / f), str(keep / f))
        metrics = bench["per_layer"]
    else:
        values = end_to_end(recs)
        metrics = bench["end_to_end"]
        keep = BUILD / "records"
        keep.mkdir(exist_ok=True)
        shutil.copy(run_dir / "records.jsonl", keep / f"{args.workload}-{args.seed}.jsonl")
    shutil.rmtree(run_dir, ignore_errors=True)
    result = {
        "correct": not bad,
        "attempted": len(scored),
        "failed": sum(r["failed"] for r in scored),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in metrics},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
