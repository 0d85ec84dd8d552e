#!/usr/bin/env python3
"""The graft benchmark: cold and warm pass times per workload, outputs checked.

Run from the root of a graft checkout:

  python3 perfbench/run.py --workload queries|compaction \
      --seed N --seconds S --trace 0|1

It builds the harness (perfbench/harness, compiled with graft's sources) if
the sources changed, generates the workload's inputs from the seed in its own
process, times one harness JVM (`local[4]`, one closed-loop client: the next
operation starts when the previous one returns), checks every output against
DuckDB, prints each metric by name with its unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 the per-layer ones (cold pass prefixed
`cold.`, otherwise the median traced warm pass), span self times per layer,
each op's own split and the tracing overhead. `--workload survey --trace 1`
measures every query of the packs instead (see SURVEY_DEADLINE_S). Everything
it writes stays under perfbench/.cache.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")
CPUS = 4
DEADLINE_S = 170          # a run must end within 180 s
SETUP_SAMPLES = 2         # JVMs whose set-up time is measured per run
BUILD_TIMEOUT_S = 800

# The input kind gen.py makes for each workload. The query tables are
# generated from one fixed seed, like read-only fixtures: for `queries` the
# run's seed permutes the query order of each warm pass.
TABLES_SEED = 42
KIND = {"queries": "tables", "compaction": "store", "survey": "tables"}
# `survey` is not one of the benchmark's workloads: run with --trace 1, it
# runs every query of the packs and prints each one's layer split, the
# relational and pipeline totals, and the query per family that `queries`
# takes (see README.md). It takes several minutes.
SURVEY_DEADLINE_S = 1800
RELATIONAL = {"MetaQueries", "JoinQueries", "AnalyticsQueries"}
OP_COLS = ["wall_s", "build_s", "build_jobs", "plan_s", "action_s", "jobs", "task_busy_s",
           "core_util", "shuffle_bytes", "scan_bytes"]

END_TO_END = [("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
              ("op_p50_s", "s"), ("live_heap_mb", "MB")]
# Per-layer metrics present on every workload, reported for the median
# traced warm pass and (prefixed cold.) for the cold pass.
PASS_LAYER = [
    ("operators.build_s", "s"), ("operators.build_jobs", "count"), ("plans.plan_s", "s"),
    ("exec.action_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.stages_skipped", "count"), ("exec.tasks", "count"), ("exec.failed_tasks", "count"),
    ("exec.task_busy_s", "s"), ("exec.core_util", "ratio"), ("exec.outside_jobs_s", "s"),
    ("exec.sched_wait_s", "s"), ("exec.gc_s", "s"), ("exec.peak_task_mem_mb", "MB"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.write_s", "s"), ("spill.disk_bytes", "bytes"), ("spill.mem_bytes", "bytes"),
    ("scan.bytes", "bytes"), ("scan.records", "count"),
    ("self.pass_s", "s"), ("self.op_s", "s"), ("self.build_s", "s"), ("self.action_s", "s"),
    ("self.job_s", "s"),
]
RUN_LAYER = [("sessions.build_s", "s"), ("trace.overhead_s", "s")]


def per_layer_names():
    return RUN_LAYER + PASS_LAYER + [("cold." + n, u) for n, u in PASS_LAYER]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(p)
            if "target" not in os.path.relpath(d, p).split(os.sep) for f in fs)
        for f in files:
            h.update(os.path.relpath(f).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Classpath of the harness, compiled with sbt when its sources changed."""
    sources = ["build.sbt", "project/build.properties", "src/main",
               os.path.join(HERE, "harness", "build.sbt"),
               os.path.join(HERE, "harness", "project", "build.properties"),
               os.path.join(HERE, "harness", "src")]
    stamp = tree_hash(sources)
    bdir = os.path.join(CACHE, "build")
    cp_file = os.path.join(bdir, f"classpath-{stamp[:16]}")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export harness/Runtime/fullClasspath"]
    log = os.path.join(bdir, "sbt.log")
    with open(log, "w") as fh:
        rc = run_proc(cmd, os.path.join(HERE, "harness"), env, fh, BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = lines[-1].strip() if lines else ""
    if rc != 0 or "harness" not in cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"harness build failed (exit {rc}); log in {log}")
    for old in glob.glob(os.path.join(bdir, "classpath-*")):
        os.remove(old)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp


def run_proc(cmd, cwd, env, out, timeout):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def inputs(workload, seed):
    """Generated input directory, reused only when its manifest matches."""
    kind = KIND[workload]
    key = tree_hash([os.path.join(HERE, "gen.py")]) + json.dumps([kind, seed])
    key = hashlib.sha256(key.encode()).hexdigest()[:12]
    out = os.path.join(CACHE, "data", f"{kind}-{seed}-{key}")
    man = os.path.join(out, "_MANIFEST.json")
    if os.path.exists(man):
        with open(man) as fh:
            m = json.load(fh)
        ok = m["params"].get("seed") == seed and all(
            os.path.getsize(os.path.join(out, f)) == n for f, n in m["files"].items()
            if os.path.exists(os.path.join(out, f)))
        ok = ok and all(os.path.exists(os.path.join(out, f)) for f in m["files"])
        if ok:
            return out, m
    # One input set per kind is kept: a new seed replaces the previous one.
    for old in glob.glob(os.path.join(CACHE, "data", f"{kind}-*")):
        shutil.rmtree(old, ignore_errors=True)
    cmd = [sys.executable, os.path.join(HERE, "gen.py"), "--kind", kind, "--seed", str(seed),
           "--out", out]
    if subprocess.run(cmd).returncode != 0:
        fail("input generation failed")
    with open(man) as fh:
        return out, json.load(fh)


def jvm(cp, work, args, timeout):
    """Runs the harness in a fresh JVM whose temp, local, warehouse and
    checkpoint directories all live under `work`; returns its result JSON."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    out = os.path.join(work, "result.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java", *opens, "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main", "--work", work, "--out", out, "--cpus", str(CPUS), *args]
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    log = os.path.join(work, "jvm.log")
    with open(log, "a") as fh:
        rc = run_proc(cmd, work, env, fh, timeout)
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"harness exited with {rc}")
    with open(out) as fh:
        return json.load(fh)


def pct(xs, q):
    """Linear-interpolated percentile q (0..100) of xs."""
    s = sorted(xs)
    k = (len(s) - 1) * q / 100.0
    lo, hi = int(k), min(int(k) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def self_times(spans, passes):
    """Self time per layer and pass: a span's duration minus the part of it
    its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    res = {}
    for s in spans:
        if s["pass"] not in passes:
            continue
        covered, end = 0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, end), min(b, s["end"])
            if b > a:
                covered += b - a
                end = b
        key = (s["pass"], f"self.{s['layer']}_s")
        res[key] = res.get(key, 0.0) + (s["end"] - s["start"] - covered) / 1e9
    return res


def check(workload, data_dir, manifest, r, work):
    """(attempted, failed, errors, names of failed ops): every op of every
    pass, checked."""
    errors, attempted, failed, bad = [], 0, 0, set()
    if workload == "compaction":
        orc = oracle.CompactionOracle(data_dir)
        for p in r["passes"]:
            for op in p["ops"]:
                attempted += 1
                if op["error"]:
                    errors.append(f"pass {p['pass']} {op['name']}: {op['error']}")
                    failed += 1
                    bad.add(op["name"])
                    continue
                out = os.path.join(work, "out", f"p{p['pass']}")
                errs = (orc.check_bulk(os.path.join(out, "bulk")) if op["name"] == "bulk" else
                        orc.check_rolling(os.path.join(out, "roll"), manifest["info"]["files"]))
                errors += [f"pass {p['pass']} {e}" for e in errs]
                failed += bool(errs)
                if errs:
                    bad.add(op["name"])
    else:
        expected = oracle.query_digests(data_dir, r["oracles"])
        for p in r["passes"]:
            for op in p["ops"]:
                attempted += 1
                want = expected.get(op["name"])
                if op["error"]:
                    errors.append(f"pass {p['pass']} {op['name']}: {op['error']}")
                elif want is None:
                    errors.append(f"pass {p['pass']} {op['name']}: no oracle")
                elif op["digest"] != want:
                    errors.append(f"pass {p['pass']} {op['name']}: digest {op['digest']}, oracle {want}")
                else:
                    continue
                failed += 1
                bad.add(op["name"])
    return attempted, failed, errors, bad


def op_layers(passes):
    """{op: {figure: value}}: each op's layer split (Layers.perOp), the median
    over the traced warm passes, plus its cold-pass wall time (cold_s) and
    median untraced warm wall time (warm_s)."""
    traced = [p for p in passes if p["role"] == "warm" and p["traced"]]
    warm = [p for p in passes if p["role"] == "warm" and not p["traced"]]
    res = {}
    for op in passes[0]["ops"]:
        n = op["name"]
        walls = {p["pass"]: o["wall_s"] for p in passes for o in p["ops"] if o["name"] == n}
        row = {"cold_s": op["wall_s"],
               "warm_s": statistics.median(walls[p["pass"]] for p in warm),
               "wall_s": statistics.median(walls[p["pass"]] for p in traced)}
        for c in OP_COLS[1:]:
            row[c] = statistics.median(p["op_layer"].get(n, {}).get(c, 0.0) for p in traced)
        res[n] = row
    return res


def print_ops(ops, extra=None):
    print("  per-op split, median of the traced warm passes (cold_s and warm_s untraced):")
    cols = ["cold_s", "warm_s"] + OP_COLS
    print("  " + f"{'op':<30}" + "".join(f"{c:>14}" for c in cols) + ("  " + extra[0] if extra else ""))
    for n, row in ops.items():
        tail = "  " + extra[1](n) if extra else ""
        print("  " + f"{n:<30}" + "".join(f"{row[c]:14.4f}" for c in cols) + tail)


def shares(rows, cpus):
    """Totals of a set of per-op rows: shares of the traced op wall time
    spent in build, plan and action, core use, jobs and shuffle."""
    wall = sum(r["wall_s"] for r in rows)
    return {"queries": len(rows), "warm_s": sum(r["warm_s"] for r in rows),
            "cold_s": sum(r["cold_s"] for r in rows),
            "build_share": sum(r["build_s"] for r in rows) / wall,
            "plan_share": sum(r["plan_s"] for r in rows) / wall,
            "action_share": sum(r["action_s"] for r in rows) / wall,
            "core_util": sum(r["task_busy_s"] for r in rows) / (wall * cpus),
            "build_jobs": sum(r["build_jobs"] for r in rows),
            "jobs": sum(r["jobs"] for r in rows),
            "shuffle_mb": sum(r["shuffle_bytes"] for r in rows) / 1e6}


def survey(ops, r, bad):
    """Prints each query's split, the relational and pipeline totals of all
    queries and of the picks, and the picks: per operator family, of the
    queries whose outputs checked, the one whose warm time is nearest the
    family's median."""
    half = {n: "relational" if pk in RELATIONAL else "pipeline" for n, pk in r["pack"].items()}
    fam = {o["name"]: o["family"] for o in r["passes"][0]["ops"]}
    print_ops(ops, ("half family ok", lambda n: f"{half[n]} {fam[n]} {n not in bad}"))
    picks = []
    for f in sorted({fam[n] for n in ops} - {"other"}):
        good = [n for n in ops if fam[n] == f and n not in bad]
        if good:
            mid = statistics.median(ops[n]["warm_s"] for n in good)
            picks.append(min(good, key=lambda n: (abs(ops[n]["warm_s"] - mid), n)))
    print(f"  picks: {picks}")
    for h in ("relational", "pipeline"):
        for label, names in (("all", list(ops)), ("picks", picks)):
            t = shares([ops[n] for n in names if half[n] == h], r["cpus"])
            print(f"  {h:<10} {label:<5} " + " ".join(f"{k} {v:.3f}" for k, v in t.items()))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(KIND))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # On SIGTERM, unwind through run_proc so the child JVM or sbt is killed too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile("build.sbt") and os.path.isdir(os.path.join("src", "main", "scala"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala not found)")

    cp = build()
    t_start = time.time()  # the build is not part of a run's time limit
    data_dir, manifest = inputs(a.workload, a.seed if a.workload == "compaction" else TABLES_SEED)
    work = os.path.join(CACHE, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        deadline = SURVEY_DEADLINE_S if a.workload == "survey" else DEADLINE_S
        # More set-up samples, each a JVM that stops once its session is ready.
        setups = [jvm(cp, work, ["--workload", "setup"], deadline - (time.time() - t_start))
                  for _ in range(SETUP_SAMPLES - 1)]
        r = jvm(cp, work, ["--workload", a.workload, "--data", data_dir, "--seconds", str(a.seconds),
                           "--seed", str(a.seed), "--trace", str(a.trace)],
                deadline - (time.time() - t_start))
        setups.append(r)
        attempted, failed, errors, bad = check(a.workload, data_dir, manifest, r, work)
        spans = []
        if a.trace:
            with open(r["spans"]) as fh:
                spans = [json.loads(line) for line in fh if line.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    passes = r["passes"]
    warm = [p for p in passes if p["role"] == "warm" and not p["traced"]]
    if a.workload == "compaction":
        samples = [b for p in warm for op in p["ops"] for b in op["batches_s"]]
    else:
        samples = [op["wall_s"] for p in warm for op in p["ops"]]
    e2e = {
        "setup_s": statistics.median(x["setup_s"] for x in setups),
        "cold_pass_s": passes[0]["wall_s"],
        "warm_pass_s": statistics.median(p["wall_s"] for p in warm),
        "op_p50_s": pct(samples, 50),
        "live_heap_mb": statistics.median(r["heap_mb"][p["pass"]] for p in warm),
    }
    print(f"workload {a.workload}: seed {a.seed}, local[{CPUS}], one closed-loop client, "
          f"{len(passes)} passes (cold, warm-up, {len(warm)} warm untraced), {len(setups)} set-up samples, "
          f"inputs {manifest['info']}")
    for n, u in END_TO_END:
        print(f"  {n:<14} {e2e[n]:12.4f} {u}")
    # The highest percentile with at least ten samples beyond it, if any.
    tail = max((q for q in range(50, 100, 5) if len(samples) * (100 - q) / 100 >= 10), default=None)
    tail_s = f"p{tail} {pct(samples, tail):.4f} s" if tail else "no tail percentile has 10 samples beyond it"
    print(f"  {'op samples':<14} {len(samples):12d} ({tail_s})")
    per_op = {}
    for p in warm:
        for op in p["ops"]:
            per_op.setdefault(op["name"], []).append(op["wall_s"])
    print(f"  {'op':<28} {'cold_s':>8} {'warm_s':>8}  (warm = median over warm untraced passes)")
    for op in passes[0]["ops"]:
        print(f"  {op['name']:<28} {op['wall_s']:8.3f} {statistics.median(per_op[op['name']]):8.3f}")
    if a.workload == "compaction":
        for name, label in (("bulk", "compact_s"), ("daemon", "daemon_s")):
            print(f"  {label:<14} {statistics.median(per_op[name]):12.4f} s")
    print(f"  {'error_rate':<14} {failed / attempted:12.4f} ({failed} of {attempted} ops)")
    for e in errors[:20]:
        print(f"  ERROR {e}")

    if a.trace:
        traced = [p for p in passes if p["traced"]]
        warm_t = [p for p in traced if p["role"] == "warm"]
        for (pnum, k), v in self_times(spans, {p["pass"] for p in traced}).items():
            passes[pnum]["layer"][k] = v
        keys = sorted({k for p in traced for k in p["layer"]})
        layer = {"sessions.build_s": statistics.median(x["sessions_build_s"] for x in setups),
                 "trace.overhead_s": statistics.median(p["wall_s"] for p in warm_t) - e2e["warm_pass_s"]}
        for k in keys:
            layer[k] = statistics.median(p["layer"].get(k, 0.0) for p in warm_t)
            layer["cold." + k] = passes[0]["layer"].get(k, 0.0)
        units = dict(per_layer_names())
        print(f"  per-layer, {len(warm_t)} traced warm passes (median) and the cold pass:")
        for k in sorted(layer):
            print(f"  {k:<34} {layer[k]:16.4f} {units.get(k, 's' if k.endswith('_s') else '')}")
        if a.workload == "survey":
            survey(op_layers(passes), r, bad)
        else:
            print_ops(op_layers(passes))
        metrics = {n: {"value": layer.get(n, 0.0), "unit": u} for n, u in per_layer_names()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
