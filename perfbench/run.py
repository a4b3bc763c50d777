#!/usr/bin/env python3
"""Layered benchmark of the watermark ETL and its operator library.

    python3 perfbench/run.py --workload etl_cron --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
benchmark harness from source (sbt, offline) and stages the input corpus
under perfbench/.work/; later runs reuse both while their sources are
unchanged. One JVM runs the workload closed-loop on local[nproc]. The last
line of standard output is the result: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. The command exits 1 when any output check
fails (fingerprint, exactly-once, lookup) and 2 or 3, printing no result,
when the program cannot be built or the input guard refuses the corpus.
See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
from pathlib import Path

import stats

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
WORKLOADS = ("etl_cron", "query_light")
PRIMARY = {"etl_cron": "tick", "query_light": "query"}
UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s",
         "heap_live_mb": "MB", "op_tail_percentile": "%", "error_frac": "frac",
         "lookup_p50_s": "s", "rows_per_s": "1/s", "write_amp": "ratio",
         "space_amp": "ratio"}
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
DEADLINE_S = 170
MIN_PASSES = 3     # perfbench.Runner.MinPasses
MAX_STEAL = 0.05   # perfbench.Runner.MaxSteal


class Refused(Exception):
    """The run cannot start; exit with `code` and print no result."""

    def __init__(self, code, message):
        super().__init__(message)
        self.code = code


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def loadavg():
    try:
        return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except OSError:
        return [-1.0, -1.0, -1.0]


def driver_heap():
    """Half the machine's memory, clamped to 2..8 GB, as the test harness
    sizes the driver."""
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemTotal:"):
                g = int(line.split()[1]) // 2097152
                return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def source_files():
    main = ROOT / "src" / "main"
    if not (main / "scala").is_dir():
        raise Refused(2, f"program sources not found under {main}")
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    files += sorted(p for p in (HERE / "src").rglob("*") if p.is_file())
    files += sorted(p for p in main.rglob("*") if p.is_file())
    return files


def digest(files):
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the program and the harness together; returns the classpath."""
    want = digest(source_files())
    stamp = WORK / "build.json"
    if stamp.exists():
        old = json.loads(stamp.read_text())
        if old.get("digest") == want:
            return old["classpath"], want
    if shutil.which("sbt") is None:
        raise Refused(2, "sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    opts = "-Xmx2g"
    if repos.exists():
        opts = ("-Dsbt.override.build.repos=true "
                f"-Dsbt.repository.config={repos} -Dsbt.offline=true {opts}")
    env["SBT_OPTS"] = opts
    log("building (sbt compile)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=800)
    lines = [ln for ln in p.stdout.splitlines() if "scala-2.13" in ln
             and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise Refused(2, "build failed")
    WORK.mkdir(parents=True, exist_ok=True)
    stamp.write_text(json.dumps({"digest": want, "classpath": lines[-1]}))
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1], want


def java(classpath, args, timeout, cwd):
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cwd.mkdir(parents=True, exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env.update(SPARK_GRAFT_CPUS=str(nproc()), SPARK_LOCAL_DIRS=str(tmp))
    cmd = ["java"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Xmx{driver_heap()}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main"] + args
    with open(WORK / "jvm.log", "a") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=err, stderr=err)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def stage(classpath):
    """Stage the corpus once; refuse it unless it matches inputs.json."""
    census_file = WORK / "corpus" / "census.json"
    if not census_file.exists():
        shutil.rmtree(WORK / "corpus", ignore_errors=True)
        log("staging the corpus")
        rc = java(classpath, ["stage", "--work", str(WORK), "--cpus",
                              str(nproc())], 800, WORK / "cwd")
        if rc != 0 or not census_file.exists():
            raise Refused(2, f"corpus staging failed (exit {rc})")
    census = json.loads(census_file.read_text())
    expected = json.loads((HERE / "inputs.json").read_text())["tables"]
    if census["tables"] != expected:
        raise Refused(3, "input guard: staged corpus differs from "
                         "perfbench/inputs.json (row counts or content hash)")
    for rel, size in census["files"].items():
        p = WORK / "corpus" / rel
        if not p.is_file() or p.stat().st_size != size:
            raise Refused(3, f"input guard: {rel} changed since staging")


def plan(workload, seed):
    """The operation list for one run, drawn from the seed."""
    q = json.loads((HERE / "queries.json").read_text())
    prints = json.loads((HERE / "fingerprints.json").read_text())
    rng = random.Random(seed)
    if workload == "etl_cron":
        return {"workload": workload, "sf": "sf0.1", "queries": [],
                "fingerprints": {}}
    light = q["light"]
    names = stratified_sample(light["candidates"], light["sample"],
                              random.Random(light["sample_seed"]))
    names.append(light["streaming_probe"])
    rng.shuffle(names)
    return {"workload": workload, "sf": "sf0.1", "queries": names,
            "fingerprints": prints["sf0.1"]}


def stratified_sample(candidates, k, rng):
    """One query from each of k equal-count bands of the reference time,
    preferring in each band the modules drawn least so far, in seeded
    order."""
    cands = sorted(candidates, key=lambda c: (c["ref_s"], c["name"]))
    n = len(cands)
    used = {}
    picks = []
    for b in range(k):
        band = cands[b * n // k:(b + 1) * n // k]
        low = min(used.get(c["module"], 0) for c in band)
        choice = rng.choice([c for c in band if used.get(c["module"], 0) == low])
        used[choice["module"]] = used.get(choice["module"], 0) + 1
        picks.append(choice["name"])
    rng.shuffle(picks)
    return picks


def quiet_passes(passes):
    """The passes a result rests on: all that lost at most MAX_STEAL of the
    CPU to other guests, or, when fewer than MIN_PASSES did, the MIN_PASSES
    that lost least."""
    quiet = [p for p in passes if p["steal_frac"] <= MAX_STEAL]
    if len(quiet) >= MIN_PASSES:
        return quiet
    return sorted(passes, key=lambda p: (p["steal_frac"], p["pass"]))[:MIN_PASSES]


def end_to_end(raw):
    """The user-visible metrics, from the quiet untraced passes."""
    primary = PRIMARY[raw["workload"]]
    used = {p["pass"] for p in quiet_passes(
        [p for p in raw["passes"] if not p["traced"]])}
    ops = [o for o in raw["ops"] if o["pass"] in used]
    prim = [o["s"] for o in ops if o["kind"] == primary]
    by_op = {}
    for o in ops:
        by_op.setdefault(o["name"], []).append(o["s"])
    value, pct, n = stats.tail(prim)
    metrics = {
        "setup_s": stats.median(raw["setup_s"]),
        "pass_s": sum(stats.median(v) for v in by_op.values()),
        "op_p50_s": stats.median(prim),
        "op_tail_s": value,
        "heap_live_mb": raw["heap_live_mb"],
    }
    extra = {"op_kind": primary, "op_samples": n, "op_tail_percentile": pct,
             "passes": sum(1 for p in raw["passes"] if not p["traced"]),
             "passes_used": len(used),
             "error_frac": raw["failed"] / max(1, raw["attempted"])}
    if raw["workload"] == "etl_cron":
        extra.update(etl_extras(raw, used))
    return metrics, extra


def etl_extras(raw, used):
    """ETL figures over the passes numbered in `used`."""
    ops = [o for o in raw["ops"] if o["pass"] in used]
    passes = [p for p in raw["passes"] if p["pass"] in used]
    amps = [stats.amplification(p["bytes_written"], p["bytes_live"],
                                p["user_bytes"]) for p in passes]
    ingest = sum(o["s"] for o in ops if o["kind"] in ("tick", "backfill"))
    return {
        "lookup_p50_s": stats.median([o["s"] for o in ops if o["kind"] == "lookup"]),
        "rows_per_s": sum(p["rows_appended"] for p in passes) / ingest if ingest else 0.0,
        "write_amp": stats.median([a[0] for a in amps]),
        "space_amp": stats.median([a[1] for a in amps]),
    }


def per_layer(raw, spans, cpus):
    """Layer metrics from the traced passes (medians over those passes)."""
    for s in spans:
        s["start"], s["end"] = s["start_us"] / 1e6, s["end_us"] / 1e6
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    rows = [layer_pass(p, spans, cpus, raw["ops"]) for p in traced]
    out = {k: stats.median([r[k] for r in rows]) for k in rows[0]} if rows else {}
    out["trace_overhead_frac"] = (
        stats.median([p["wall_s"] for p in traced]) /
        stats.median([p["wall_s"] for p in untraced]) - 1.0
        if traced and untraced else 0.0)
    etl = (etl_extras(raw, {p["pass"] for p in untraced})
           if raw["workload"] == "etl_cron" else {})
    out["etl.lookup_p50_s"] = etl.get("lookup_p50_s", 0.0)
    out["etl.rows_per_s"] = etl.get("rows_per_s", 0.0)
    out["sources.write_amp"] = etl.get("write_amp", 0.0)
    out["sources.space_amp"] = etl.get("space_amp", 0.0)
    return out


def layer_pass(p, spans, cpus, ops_timed):
    w0, w1 = p["start_us"] / 1e6, p["end_us"] / 1e6
    inside = [s for s in spans if w0 <= s["start"] < w1]
    by = lambda kind: [s for s in inside if s["kind"] == kind]
    ops, phases, jobs, stages, batches = (by("op"), by("phase"), by("job"),
                                          by("stage"), by("batch"))
    wall = w1 - w0
    dur = lambda ss: sum(s["end"] - s["start"] for s in ss)
    build_ids = {s["id"] for s in phases if s["name"] == "build"}
    ticks = [s for s in ops if s["name"].startswith("tick ")]
    tick_ids = {s["id"] for s in ticks}
    skews = [s["task_max_ms"] / s["task_median_ms"] for s in stages
             if s["tasks"] >= 2 and s["task_median_ms"] > 0]
    busy = sum(s["busy_ms"] for s in stages) / 1000.0
    selfs = stats.self_times(inside, (w0, w1))
    m = {
        "etl.increment_s": stats.median([s["end"] - s["start"] for s in ticks]),
        "etl.jobs_per_tick": (sum(1 for j in jobs if j["parent"] in tick_ids) /
                              len(ticks)) if ticks else 0.0,
        "etl.rows_appended": p.get("rows_appended", 0),
        "sources.bytes_written": p.get("bytes_written", 0),
        "sources.bytes_live": p.get("bytes_live", 0),
        "sources.files_live": p.get("files_live", 0),
        "sources.manifest_versions": p.get("manifest_versions", 0),
        "sources.compact_s": sum(o["s"] for o in ops_timed if o["pass"] == p["pass"]
                                 and o["kind"] == "compact"),
        "sources.compact_bytes_rewritten": p.get("compact_bytes_rewritten", 0),
        "sources.compact_races_lost": p.get("compact_races_lost", 0),
        "sources.lookup_files_scanned_frac": (
            p["lookup_files_scanned"] / p["lookup_files_total"]
            if p.get("lookup_files_total") else 0.0),
        "ops.build_s": dur([s for s in phases if s["name"] == "build"]),
        "ops.build_jobs": sum(1 for j in jobs if j["parent"] in build_ids),
        "plans.analysis_s": sum(s.get("catalyst_analysis_ms", 0) for s in ops) / 1000.0,
        "plans.optimization_s": sum(s.get("catalyst_optimization_ms", 0) for s in ops) / 1000.0,
        "plans.planning_s": sum(s.get("catalyst_planning_ms", 0) for s in ops) / 1000.0,
        "exec.run_s": dur([s for s in phases if s["name"] == "execute"]),
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.task_busy_s": busy,
        "exec.sched_wait_s": sum(s["sched_wait_ms"] for s in stages) / 1000.0,
        "exec.core_util": busy / (wall * cpus) if wall > 0 else 0.0,
        "exec.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "exec.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "exec.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "exec.gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
        "exec.stage_skew": max(skews) if skews else 1.0,
        "exec.failed_tasks": sum(s["failed_tasks"] for s in stages),
        "exec.nojob_s": wall - stats.union_length(
            [(max(j["start"], w0), min(j["end"], w1)) for j in jobs]),
        "streaming.batches": len(batches),
        "streaming.batch_s": dur(batches),
        "streaming.plan_s": sum(s["plan_ms"] for s in batches) / 1000.0,
        "streaming.commit_s": sum(s["commit_ms"] for s in batches) / 1000.0,
        "streaming.state_rows": sum(s["state_rows"] for s in batches),
        "util.heap_peak_mb": p["heap_peak_mb"],
        "util.cached_bytes_after_sweep": p["cached_bytes_after_sweep"],
        "trace.pass_wall_s": wall,
    }
    for kind in ("pass", "op", "harness", "phase", "batch", "job", "stage"):
        m[f"trace.self_{kind}_s"] = selfs.get(kind, 0.0)
    residual = selfs.get("pass", 0.0) + selfs.get("op", 0.0) + selfs.get("none", 0.0)
    m["trace.residual_s"] = residual
    m["trace.residual_frac"] = residual / wall if wall > 0 else 0.0
    return m


def declared(kind):
    return json.loads((ROOT / "BENCHMARK.json").read_text())[kind]


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return p.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    launched = time.time()
    load_launch = loadavg()
    try:
        if not (ROOT / "BENCHMARK.json").exists():
            raise Refused(2, "BENCHMARK.json not found at the repository root")
        classpath, src_digest = build()
        stage(classpath)
    except Refused as e:
        log(str(e))
        return e.code
    cpus = nproc()
    run_dir = WORK / "runs"
    run_dir.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    plan_file, out_file, spans_file = (run_dir / f"{tag}.plan.json",
                                       run_dir / f"{tag}.out.json",
                                       run_dir / f"{tag}.spans.jsonl")
    plan_file.write_text(json.dumps(plan(a.workload, a.seed)))
    out_file.unlink(missing_ok=True)
    started = time.time()
    rc = java(classpath, [
        "run", "--work", str(WORK), "--cpus", str(cpus), "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--plan", str(plan_file), "--out", str(out_file),
        "--spans", str(spans_file)],
        DEADLINE_S - (started - launched), WORK / "cwd")
    if rc != 0 or not out_file.exists():
        log(f"workload JVM failed (exit {rc}); see {WORK / 'jvm.log'}")
        return 2
    raw = json.loads(out_file.read_text())
    e2e, extra = end_to_end(raw)
    quiet = (0 <= load_launch[0] <= cpus and
             len(quiet_passes(raw["passes"])) > 0 and
             all(p["steal_frac"] <= MAX_STEAL for p in quiet_passes(raw["passes"])))
    meta = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "nproc": cpus, "loadavg_launch": load_launch, "loadavg_end": loadavg(),
        "steal_frac": [round(p["steal_frac"], 4) for p in raw["passes"]],
        "quiet": quiet,
        "start": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(started)),
        "end": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "git_commit": git_commit(), "source_digest": src_digest,
        "jdk": raw["java_version"], "spark": raw["spark_version"],
        "op_tail": {"percentile": extra["op_tail_percentile"],
                    "samples": extra["op_samples"]},
        "attempted": raw["attempted"], "failed": raw["failed"],
        "errors": raw["errors"],
    }
    if a.trace:
        spans = [json.loads(ln) for ln in spans_file.read_text().splitlines()]
        layers = per_layer(raw, spans, cpus)
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in declared("per_layer")}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in declared("end_to_end")}
        metrics_shown = dict(metrics, **{k: {"value": v, "unit": UNITS[k]}
                                         for k, v in extra.items() if k in UNITS})
    for k, v in (metrics if a.trace else metrics_shown).items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    meta["extra"] = extra
    print(json.dumps({"meta": meta}))
    (run_dir / f"{tag}.result.json").write_text(
        json.dumps({"meta": meta, "metrics": metrics}))
    correct = raw["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
