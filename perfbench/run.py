#!/usr/bin/env python3
"""graft's benchmark: replay one fixed analysis session on seeded inputs.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all [--seed N] [--seconds S]

Workloads (the calls are `SparkEntry.queries` entries, issued one after
another by one client thread in one `local[nproc]` session with Bench's
settings and the tier-1 heap):

- curation: documents through filter_decision → dedup_jaccard_prefix →
  pack_sequences (text, dedup, native kernels).
- cell_atlas: lineitem as a cell×gene matrix plus embeddings through
  qc_cell_metrics → kmeans_clusters → ann_ivfpq_topk (sc, ml, sim), then
  q1_pricing_summary → window_rank_suite → sessionize_events over
  lineitem, part and events, each written to parquet (core, sources).

One run: build graft and the harness from this checkout if needed,
generate the seed's inputs from the sf0.01 test tables (gen.py), then in
one JVM set the session up, run one untimed pass (results to parquet)
and timed passes until S seconds have gone by (at least three). Before
each pass the memo state, caches and checkpoints are dropped. Every
call's result is checked twice: the untimed pass against the DuckDB
oracle (oracle.py), and every later pass's digest against the untimed
pass's.

--trace 0 prints the end-to-end metrics:
  setup_s  JVM start to a session with tables warmed (Bench's warm-up)
  wall_s   first call to last result, median over timed passes
--trace 1 runs one more untimed pass, then untraced, traced, traced and
untraced passes instead, and prints the per-layer metrics of the second
traced pass (session.cpu_s is the pass's task CPU plus client-thread CPU;
trace.overhead_s is the mean traced pass wall time minus the mean
untraced, an order in which a steady speed-up from pass to pass cancels
out); spans are written to perfbench/work/runs/*/trace.json.

The last stdout line is the JSON result. `--workload all` runs each
workload once and exits non-zero if any output check fails.
The sf0.01 tables are read from ~/testdata/sf0.01 (GRAFT_BENCH_BASE
overrides the location).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "work"
COMPARE_PY = ROOT / "tools" / "compare.py"
sys.path[:0] = [str(HERE), str(COMPARE_PY.parent)]

WORKLOADS = ("curation", "cell_atlas")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880
# what spark-submit would pass on JDK 17 (JavaModuleOptions)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def _sources():
    return sorted([*(ROOT / "src/main/scala").rglob("*.scala"), *(HERE / "src").rglob("*.scala"),
                   HERE / "build.sbt", HERE / "project/build.properties"])


def source_sha():
    h = hashlib.sha256()
    for p in _sources():
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compile graft and the harness with sbt; return the run classpath."""
    stamp = hashlib.sha256("\n".join(
        f"{p}:{p.stat().st_size}:{p.stat().st_mtime_ns}" for p in _sources()).encode()).hexdigest()
    cp_file = WORK / "classpath.txt"
    WORK.mkdir(parents=True, exist_ok=True)
    with open(WORK / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if cp_file.exists():
            cached_stamp, cp = cp_file.read_text().split("\n", 1)
            if cached_stamp == stamp:
                return cp.strip(), False
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"))
        with open(WORK / "build.log", "w") as log:
            tmp = WORK / "tmp"
            tmp.mkdir(exist_ok=True)
            res = subprocess.run(
                ["sbt", "-batch", "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
                 f"-Djna.tmpdir={tmp}", "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
                timeout=BUILD_LIMIT_S - 60)
            log.write(res.stdout)
        lines = [ln for ln in res.stdout.splitlines() if "scala-2.13/classes" in ln]
        if res.returncode != 0 or not lines:
            raise BenchError(f"build failed (see {WORK / 'build.log'})")
        cp = lines[-1].strip()
        cp_file.write_text(stamp + "\n" + cp)
        return cp, True


def inputs(seed):
    """The seed's generated tables (made once per seed, then reused)."""
    base = Path(os.environ.get("GRAFT_BENCH_BASE", "~/testdata/sf0.01")).expanduser()
    if not all((base / f"{t}.parquet").exists() for t in gen.TABLES):
        raise BenchError(f"base tables not found under {base}")
    out = WORK / "data" / f"seed-{seed}"
    marker = out / "rows.json"
    if marker.exists() and json.loads(marker.read_text()).get("version") == gen.VERSION:
        return out, json.loads(marker.read_text())["rows"]
    shutil.rmtree(out, ignore_errors=True)
    return out, gen.generate(str(base), str(out), seed)


def heap():
    """The tier-1 heap formula: half of MemTotal in GiB, within [2, 8]."""
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def run_jvm(cp, workload, data, out, seconds, trace, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    (out / "tmp").mkdir(parents=True)
    cmd = [java, f"-Xmx{heap()}", "-XX:-UsePerfData", *ADD_OPENS, f"-Djava.io.tmpdir={out / 'tmp'}",
           "-cp", cp, "graftbench.Main", "--workload", workload, "--data", str(data),
           "--out", str(out), "--cpus", str(len(os.sched_getaffinity(0))),
           "--seconds", str(seconds), "--trace", str(trace),
           "--launched-ms", repr(time.time() * 1000)]
    with open(out / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"{workload} run timed out (see {out / 'jvm.log'})")
    if code != 0 or not (out / "result.json").exists():
        raise BenchError(f"{workload} run exited {code} (see {out / 'jvm.log'})")
    return json.loads((out / "result.json").read_text())


def judge(result, verdicts):
    """Count call executions that threw or failed an output check."""
    passes = result["passes"]
    ref = {c["name"]: c for c in passes[0]["calls"]}
    failures = []
    for p in passes:
        for c in p["calls"]:
            if c["error"]:
                why = c["error"]
            elif p is passes[0]:
                why = verdicts.get(c["name"], "no oracle query")
                if why is None:
                    continue
            elif c["digest"] != ref[c["name"]]["digest"]:
                why = f"digest {c['digest']} differs from the untimed pass's {ref[c['name']]['digest']}"
            else:
                continue
            failures.append(f"{p['kind']} {c['name']}: {why}")
    attempted = sum(len(p["calls"]) for p in passes)
    return attempted, failures


def spec():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def run_one(workload, seed, seconds, trace):
    started = time.time()
    cp, built = build()
    deadline = started + (BUILD_LIMIT_S if built else RUN_LIMIT_S)
    t_gen = time.time()
    data, rows = inputs(seed)
    out = WORK / "runs" / f"{workload}-seed{seed}-trace{trace}"
    shutil.rmtree(out, ignore_errors=True)
    t_jvm = time.time()
    result = run_jvm(cp, workload, data, out, seconds, trace, deadline - 15)
    t_oracle = time.time()
    verdicts = oracle.check(str(COMPARE_PY), str(data), str(out / "warmup"), result["oracle_sql"],
                            str(out / "duckdb-tmp"), len(os.sched_getaffinity(0)))
    attempted, failures = judge(result, verdicts)
    stages_s = {"build": t_gen - started, "generate": t_jvm - t_gen, "jvm": t_oracle - t_jvm,
                "oracle": time.time() - t_oracle}
    timed = [p for p in result["passes"] if p["kind"] == "timed"]
    s = spec()
    if trace:
        wanted = s["per_layer"]
        values = result["per_layer"]
    else:
        wanted = s["end_to_end"]
        values = {"setup_s": result["setup_s"],
                  "wall_s": statistics.median(p["wall_s"] for p in timed)}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    meta = dict(result["meta"], seed=seed, nproc=len(os.sched_getaffinity(0)), xmx=heap(),
                source_sha=source_sha(), input_rows=rows, stages_s=stages_s,
                session_ready_s=result["session_ready_s"],
                passes=[{k: p[k] for k in ("kind", "wall_s", "cpu_s", "process_cpu_s", "jit_s")}
                        for p in result["passes"]])
    if (ROOT / ".git").exists():
        meta["git_sha"] = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                         capture_output=True).stdout.strip()
    if trace:
        spans = json.loads((out / "trace.json").read_text())
        (out / "trace.json").write_text(json.dumps(dict(spans, meta=meta)))
    record = {"correct": not failures, "attempted": attempted, "failed": len(failures),
              "metrics": metrics}
    (out / "run.json").write_text(json.dumps(dict(record, meta=meta, failures=failures), indent=1))
    return record, meta, failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "src/main/scala/graft").is_dir() or not COMPARE_PY.is_file():
        print(f"graft sources or {COMPARE_PY.relative_to(ROOT)} not found under {ROOT}",
              file=sys.stderr)
        return 2
    global gen, oracle
    import gen
    import oracle
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    ok = True
    for name in names:
        try:
            record, meta, failures = run_one(name, args.seed, args.seconds, args.trace)
        except BenchError as e:
            print(f"{name}: {e}", file=sys.stderr)
            return 2
        ok = ok and record["correct"]
        print("# meta " + json.dumps(meta))
        for f in failures:
            print(f"# FAILED {f}")
        for k, m in record["metrics"].items():
            print(f"# {name} {k} = {m['value']:.6g} {m['unit']}")
        print(json.dumps(record))
    return 0 if ok or args.workload != "all" else 1


if __name__ == "__main__":
    sys.exit(main())
