#!/usr/bin/env python3
"""Benchmark of the graft engine: two workloads, each in a fresh JVM on
local[nproc], one engine call at a time.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Run from the repository root. The first run builds the engine from
`src/main/scala` and the harness from `perfbench/harness` into
`.bench_build/perfbench`, and generates the inputs there (see gen.py).
The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (end-to-end metrics untraced, per-layer metrics traced).
`--smoke` runs every workload once, at the smallest input size, through
the same code and checks. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
SCALA = ["scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar",
         "scala-reflect-2.13.17.jar"]

# The engine's runtime flags, as build.sbt's `javaOptions` give them to
# `sbt run` (JDK 17 module opens, UTC, no UI, constraint propagation off).
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
JAVA_OPTS = [f for p in OPENS
             for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Duser.timezone=UTC", "-Dspark.sql.constraintPropagation.enabled=false",
    "-Xmx3g"]

# sf: input scale; builds run first in the order given, then the keys in
# an order set by the seed; files: how many parts the stream replay has;
# rounds: how many rounds every run makes and the metrics come from.
WORKLOADS = {
    "batch": dict(mode="queries", sf=0.001, rounds=4,
                  builds=["zipf", "gtrade", "graphx", "cc"],
                  keys=["graph_kcore", "graph_trussness", "fn_math",
                        "substrate_group_agg", "degrees", "asof_join",
                        "feature_corr_matrix", "sample_split",
                        "connected_components"]),
    "stream": dict(mode="stream", sf=0.01, rounds=4, files=2,
                   maintainers=["hll", "hist", "cms", "bitmap", "asof"]),
}
SMOKE = dict(sf=0.001, files=4, rounds=1)
SETUPS = 3

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s"),
              ("storage_mb", "MB"), ("call_ms", "ms")]
BUILD_NAMES = ["gtrade", "graphx", "cc", "zipf"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sh(cmd, **kw):
    r = subprocess.run(cmd, **kw)
    if r.returncode != 0:
        raise SystemExit(f"[perfbench] failed ({r.returncode}): {cmd[:4]}")
    return r


# ── build ──────────────────────────────────────────────────────────────

def sources(d, ext):
    return sorted(glob.glob(os.path.join(d, "**", "*" + ext), recursive=True))


def spark_jars():
    """The Spark jar directory the engine compiles against: build.sbt's
    `unmanagedBase`, else $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(sbt).read()) if os.path.exists(sbt) else None
    return m.group(1) if m else os.path.join(
        os.environ.get("SPARK_HOME", ""), "jars")


def build():
    """Compile engine and harness into jars, once per source state."""
    engine_src = sources(os.path.join(ROOT, "src", "main", "scala"), ".scala")
    harness_src = sources(os.path.join(HERE, "harness"), ".scala")
    if not engine_src:
        raise SystemExit("[perfbench] no engine sources under src/main/scala;"
                         " run from the repository root")
    h = hashlib.sha1()
    for f in engine_src + harness_src:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(WORK, "build", h.hexdigest()[:16])
    if os.path.exists(out):
        return out
    log("building engine and harness")
    tmp = f"{out}.tmp{os.getpid()}"
    jars = spark_jars()
    scalac = ["java", "-Xss8m", "-Xmx3g", "-cp",
              ":".join(os.path.join(jars, j) for j in SCALA),
              "scala.tools.nsc.Main", "-nowarn"]
    for name, srcs, cp in (("engine", engine_src, f"{jars}/*"),
                           ("harness", harness_src,
                            f"{tmp}/engine.jar:{jars}/*")):
        cls = os.path.join(tmp, name)
        os.makedirs(cls)
        sh(scalac + ["-d", cls, "-cp", cp] + srcs)
        sh(["jar", "cf", os.path.join(tmp, name + ".jar"), "-C", cls, "."])
        shutil.rmtree(cls)
    for old in glob.glob(os.path.join(WORK, "build", "*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    # A class-data-sharing archive of the classes a run loads: shortens
    # JVM start-up, and only that, for every later run. It records the
    # class path, so it is made in place.
    jsa = os.path.join(out, "app.jsa")
    jvm(out, [f"-XX:ArchiveClassesAtExit={jsa}.tmp"],
        ["--mode", "queries", "--data", inputs(SMOKE), "--out",
         os.path.join(WORK, "cds-run"), "--seconds", "0", "--rounds", "1",
         "--trace", "1", "--cores", "1", "--setups", "1",
         "--builds", "gtrade", "--keys", "fn_math,degrees"], quiet=True)
    os.rename(jsa + ".tmp", jsa)
    shutil.rmtree(os.path.join(WORK, "cds-run"))
    return out


def jvm(build_dir, extra, args, quiet=False, timeout=160):
    cp = ":".join([os.path.join(build_dir, "harness.jar"),
                   os.path.join(build_dir, "engine.jar"),
                   f"{spark_jars()}/*"])
    jsa = os.path.join(build_dir, "app.jsa")
    cds = ["-XX:SharedArchiveFile=" + jsa, "-Xlog:cds=off"] \
        if os.path.exists(jsa) else []
    # Spark's scratch files (shuffle, spilled pins) stay in the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JAVA_OPTS + cds + extra +
           ["-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" +
            os.path.join(HERE, "harness", "log4j2.properties"),
            "-cp", cp, "perfbench.Harness"] + args)
    with subprocess.Popen(cmd, env=dict(os.environ, SPARK_LOCAL_DIRS=tmp),
                          stdout=subprocess.DEVNULL if quiet else sys.stderr,
                          stderr=subprocess.DEVNULL if quiet else None) as p:
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("[perfbench] harness timed out")
    if rc != 0:
        raise SystemExit(f"[perfbench] harness exited with {rc}")


# ── inputs ─────────────────────────────────────────────────────────────

def inputs(spec):
    d = os.path.join(WORK, "data", f"sf{spec['sf']}")
    if not os.path.exists(d):
        log(f"generating tables {os.path.basename(d)}")
        shutil.rmtree(d + ".tmp", ignore_errors=True)
        sh([sys.executable, os.path.join(HERE, "gen.py"), "tables", d,
            str(spec["sf"])])
    return d


def replay(tables, seed, files):
    d = os.path.join(WORK, "replay", f"{os.path.basename(tables)}"
                     f"-f{files}-s{seed}")
    if not os.path.exists(d):
        shutil.rmtree(d + ".tmp", ignore_errors=True)
        sh([sys.executable, os.path.join(HERE, "gen.py"), "replay", tables,
            d, str(seed), str(files)])
    return d


# ── checks ─────────────────────────────────────────────────────────────

def check(tables, check_dir):
    """Names whose output disagrees with DuckDB running the oracle SQL,
    judged by tools/check.py (sorted columns, dtype kinds, values)."""
    oracles = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    if not oracles:
        return set()
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools",
                        "check.py"), tables, check_dir] + sorted(oracles),
                       capture_output=True, text=True)
    passed = {ln.split()[1] for ln in r.stdout.splitlines()
              if ln.startswith("PASS ")}
    for ln in r.stdout.splitlines():
        if ln.startswith("FAIL"):
            log(ln)
    return set(oracles) - passed


# ── metrics ────────────────────────────────────────────────────────────

def median(xs):
    return statistics.median(xs) if xs else 0.0


def measured(run, spec):
    """The run restricted to its first `rounds` rounds. Every run has at
    least that many; later rounds (a run shorter than --seconds goes on)
    count as attempted operations but not in the metrics, so every
    metric averages the same cold-to-warm mix of rounds."""
    keep = lambda xs: [x for x in xs if x["round"] < spec["rounds"]]
    return dict(run, rounds=keep(run["rounds"]), ops=keep(run["ops"]),
                batches=keep(run["batches"]))


def end_to_end(run, spec):
    """Each call's figure is its best over the measured rounds: other work
    on the machine only ever slows a call, and ten-seed trials spread
    less with the minimum than with the median. A round's figures are the
    sums of those minima; `call_ms` is their mean over the workload's unit
    operations (keys, or micro-batches by maintainer and position). A
    mean, not a median: with a handful of unlike operations the median
    jumps between neighbours."""
    run = measured(run, spec)
    ops = run["ops"]
    cpu = [0] * len(ops)
    for finish, ns in run["tasks"]:
        i = op_at(ops, finish)
        if i is not None:
            cpu[i] += ns / 1e9
    walls, cpus = {}, {}
    for o, c in zip(ops, cpu):
        walls.setdefault((o["kind"], o["name"]), []).append(o["wall_s"])
        cpus.setdefault((o["kind"], o["name"]), []).append(c)
    if spec["mode"] == "queries":
        lat = [min(v) * 1e3 for (kind, _), v in walls.items()
               if kind == "key"]
    else:
        pos = {}
        for b in run["batches"]:
            pos.setdefault((b["maintainer"], b["batch"]), []).append(
                b["duration_ms"]["triggerExecution"])
        lat = [min(v) for v in pos.values()]
    return {
        "setup_s": median(run["setups_s"]),
        "wall_s": sum(min(v) for v in walls.values()),
        "cpu_s": sum(min(v) for v in cpus.values()),
        "storage_mb": max(r["storage_mb"] for r in run["rounds"]),
        "call_ms": float(statistics.mean(lat)),
    }


def op_at(ops, t):
    """Index of the call running at time t (calls run one at a time)."""
    for i, o in enumerate(ops):
        if o["start_ms"] <= t <= o["end_ms"]:
            return i
    return None


def union(intervals):
    """Total length of the union of (lo, hi) intervals."""
    total, end = 0.0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


def clip(iv, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in iv if min(b, hi) > max(a, lo)]


def per_layer(run, spec):
    """Per-round layer counters plus the self-time table, over the
    measured rounds. Jobs, stages and planning spans belong to the call
    during which they started (calls run one at a time)."""
    run = measured(run, spec)
    rounds, ops = run["rounds"], run["ops"]
    n, cores = len(rounds), run["cores"]

    op_of = lambda t: op_at(ops, t)
    op_kind = lambda t: None if op_of(t) is None else ops[op_of(t)]["kind"]
    jobs = [dict(j, op=op_of(j["start_ms"])) for j in run["jobs"]]
    jobs = [j for j in jobs if j["op"] is not None]
    stages = [dict(s, op=op_of(s["start_ms"])) for s in run["stages"]
              if s["start_ms"] >= 0]
    stages = [s for s in stages if s["op"] is not None]
    keys = [o for o in ops if o["kind"] == "key"]
    blds = [o for o in ops if o["kind"] == "build"]
    per = lambda x: x / n
    total = lambda f: per(sum(f(s) for s in stages))
    wall = sum(r["wall_s"] for r in rounds)
    job_wall = sum(union(clip([(j["start_ms"], j["end_ms"]) for j in jobs],
                              r["start_ms"], r["end_ms"])) for r in rounds)
    bs = run["batches"]
    dur = lambda k: per(sum(b["duration_ms"].get(k, 0) for b in bs)) / 1e3
    m = {"sources.input_mb": total(lambda s: s["input_b"]) / 1e6}
    for b in BUILD_NAMES:
        walls = [o["wall_s"] for o in blds if o["name"] == b]
        m[f"build.{b}_s"] = statistics.mean(walls) if walls else 0.0
    m.update({
        "caches.builds": per(len(blds)),
        "caches.build_s": per(sum(o["wall_s"] for o in blds)),
        "caches.partial_rdds": max(r["partial_rdds"] for r in rounds),
        "queries.construct_s": per(sum(o.get("construct_s", 0)
                                       for o in keys)),
        "queries.action_s": per(sum(o.get("action_s", 0) for o in keys)),
        "queries.plan_s": per(sum(p["plan_ms"] for p in run["plans"]
                                  if op_kind(p["start_ms"]) == "key")) / 1e3,
        "queries.codegen_compiles": per(sum(o["codegen_compiles"]
                                            for o in ops)),
        "queries.codegen_s": per(sum(o["codegen_s"] for o in ops)),
        "functions.pins": per(len({r for s in stages
                                   for r in s["pinned_rdds"]})),
        "scheduler.jobs": per(len(jobs)),
        "scheduler.stages": per(len(stages)),
        "scheduler.tasks": total(lambda s: s["tasks"]),
        "scheduler.one_task_stages": total(lambda s: s["tasks"] == 1),
        "scheduler.skipped_stages": per(
            sum(len(j["stage_ids"]) for j in jobs) -
            len({s["stage"] for s in stages})),
        "scheduler.job_wall_s": per(job_wall) / 1e3,
        "scheduler.gap_s": per(wall - job_wall / 1e3),
        "executor.run_s": total(lambda s: s["run_ms"]) / 1e3,
        "executor.cpu_s": total(lambda s: s["cpu_ns"]) / 1e9,
        "executor.gc_s": total(lambda s: s["gc_ms"]) / 1e3,
        "executor.busy_share": total(lambda s: s["run_ms"]) * n / 1e3 /
        (wall * cores),
        "shuffle.write_mb": total(lambda s: s["shuffle_write_b"]) / 1e6,
        "shuffle.read_mb": total(lambda s: s["shuffle_read_b"]) / 1e6,
        "shuffle.fetch_wait_s": total(lambda s: s["fetch_wait_ms"]) / 1e3,
        "shuffle.spill_mb": total(lambda s: s["spill_b"]) / 1e6,
        "streaming.batches": per(len(bs)),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.plan_s": dur("queryPlanning"),
        "streaming.offsets_s": dur("latestOffset") + dur("getBatch") +
        dur("walCommit"),
        "streaming.commit_s": dur("commitOffsets"),
    })
    # wall_s as the untraced run defines it, to read the tracing overhead
    m["trace.wall_s"] = end_to_end(run, spec)["wall_s"]
    m.update(self_times(rounds, ops, jobs, stages))
    return m, spans(run, ops, jobs, stages)


def self_times(rounds, ops, jobs, stages):
    """Split the rounds' wall into disjoint layers: the harness between
    calls; each call's own driver time outside Spark jobs (construct and
    action for keys, build, stream); job time outside stages; stages."""
    acc = dict.fromkeys(["harness", "construct", "action", "build", "stream",
                         "job", "stage"], 0.0)
    for i, o in enumerate(ops):
        lo, hi = o["start_ms"], o["end_ms"]
        jiv = [(j["start_ms"], j["end_ms"]) for j in jobs if j["op"] == i]
        siv = [(s["start_ms"], s["end_ms"]) for s in stages if s["op"] == i]
        stage_t = union(clip(siv, lo, hi))
        busy = union(clip(jiv + siv, lo, hi))
        acc["stage"] += stage_t
        acc["job"] += busy - stage_t
        own = (hi - lo) - busy
        if o["kind"] == "key":
            mid = lo + o.get("construct_s", 0.0) * 1e3
            c_own = (mid - lo) - union(clip(jiv + siv, lo, mid))
            acc["construct"] += min(own, c_own)
            acc["action"] += own - min(own, c_own)
        else:
            acc[o["kind"]] += own
    wall_ms = sum(r["end_ms"] - r["start_ms"] for r in rounds)
    acc["harness"] = wall_ms - sum(o["end_ms"] - o["start_ms"] for o in ops)
    out = {f"self.{k}_s": v / 1e3 / len(rounds) for k, v in acc.items()}
    out["self.sum_share"] = sum(acc.values()) / (
        sum(r["wall_s"] for r in rounds) * 1e3)
    return out


def spans(run, ops, jobs, stages):
    """The trace as spans: workload > round > call > construct | action |
    micro-batch > job > stage. Every span of one call carries its id."""
    out = [dict(id="w", parent=None, name="workload", call=None,
                start_ms=run["rounds"][0]["start_ms"],
                end_ms=run["rounds"][-1]["end_ms"])]
    for r in run["rounds"]:
        out.append(dict(id=f"r{r['round']}", parent="w", name="round",
                        call=None, start_ms=r["start_ms"],
                        end_ms=r["end_ms"]))
    for i, o in enumerate(ops):
        c = f"c{i}"
        out.append(dict(id=c, parent=f"r{o['round']}", call=c,
                        name=f"{o['kind']}:{o['name']}", ok=o["ok"],
                        start_ms=o["start_ms"], end_ms=o["end_ms"]))
        if o["kind"] == "key":
            mid = o["start_ms"] + o["construct_s"] * 1e3 \
                if "construct_s" in o else o["end_ms"]
            out.append(dict(id=c + ".construct", parent=c, call=c,
                            name="construct", start_ms=o["start_ms"],
                            end_ms=mid))
            out.append(dict(id=c + ".action", parent=c, call=c,
                            name="action", start_ms=mid,
                            end_ms=o["end_ms"]))
    for b in run["batches"]:
        i = next((k for k, o in enumerate(ops) if o["kind"] == "stream" and
                  o["round"] == b["round"] and o["name"] == b["maintainer"]),
                 None)
        if i is not None:
            out.append(dict(id=f"c{i}.b{b['batch']}", parent=f"c{i}",
                            call=f"c{i}", name="micro-batch",
                            start_ms=b["end_ms"] -
                            b["duration_ms"]["triggerExecution"],
                            end_ms=b["end_ms"], rows=b["rows"],
                            duration_ms=b["duration_ms"]))
    for j in jobs:
        out.append(dict(id=f"j{j['job']}", parent=f"c{j['op']}",
                        call=f"c{j['op']}", name="job",
                        start_ms=j["start_ms"], end_ms=j["end_ms"]))
    owner = {sid: j for j in jobs for sid in j["stage_ids"]}
    for s in stages:
        parent = owner.get(s["stage"])
        out.append(dict(
            id=f"s{s['stage']}.{s['attempt']}",
            parent=f"j{parent['job']}" if parent else f"c{s['op']}",
            call=f"c{s['op']}", name="stage",
            **{k: v for k, v in s.items() if k not in ("op", "stage")}))
    return out


# ── one run ────────────────────────────────────────────────────────────

def run_workload(name, spec, seed, seconds, trace):
    build_dir = build()
    tables = inputs(spec)
    out = os.path.join(WORK, "runs", f"{name}-s{seed}-t{trace}")
    shutil.rmtree(out, ignore_errors=True)
    args = ["--out", out, "--data", tables, "--seconds", str(seconds),
            "--rounds", str(spec["rounds"]), "--trace", str(trace),
            "--cores", str(os.cpu_count() or 1), "--setups", str(SETUPS)]
    if spec["mode"] == "queries":
        keys = list(spec["keys"])
        random.Random(seed).shuffle(keys)
        args += ["--mode", "queries", "--builds", ",".join(spec["builds"]),
                 "--keys", ",".join(keys)]
    else:
        args += ["--mode", "stream",
                 "--replay", replay(tables, seed, spec["files"]),
                 "--maintainers", ",".join(spec["maintainers"])]
    jvm(build_dir, [], args)
    run = json.load(open(os.path.join(out, "run.json")))
    wrong = check(tables, os.path.join(out, "check"))
    counts = {}
    for o in run["ops"]:
        c = counts.setdefault(o["kind"], [0, 0])
        c[0] += 1
        c[1] += (not o["ok"]) or o["name"] in wrong
    if spec["mode"] == "stream":
        counts["micro_batch"] = [len(run["batches"]) + counts["stream"][1],
                                 counts["stream"][1]]
    attempted = len(run["ops"])
    failed = sum(c[1] for k, c in counts.items() if k != "micro_batch")
    if trace:
        metrics, trace_spans = per_layer(run, spec)
        with open(os.path.join(out, "trace.json"), "w") as fh:
            json.dump({"workload": name, "seed": seed, "layers": metrics,
                       "spans": trace_spans}, fh)
    else:
        metrics = end_to_end(run, spec)
    units = dict(END_TO_END)
    print(json.dumps({"workload": name, "rounds": len(run["rounds"]),
                      "ops": counts, "wrong": sorted(wrong)}))
    return {
        "correct": not wrong - {o["name"] for o in run["ops"]
                                if not o["ok"]},
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k) or unit_of(k)}
                    for k, v in metrics.items()}}


def unit_of(name):
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_share", "share")):
        if name.endswith(suffix):
            return unit
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if a.smoke:
        ok = True
        for name, spec in WORKLOADS.items():
            res = run_workload(name, dict(spec, **SMOKE), a.seed, 0,
                               a.trace)
            ok &= res["correct"]
            print(json.dumps(dict(res, workload=name)))
        sys.exit(0 if ok else 1)
    if not a.workload:
        ap.error("--workload is required")
    res = run_workload(a.workload, WORKLOADS[a.workload], a.seed, a.seconds,
                       a.trace)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
