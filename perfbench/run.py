#!/usr/bin/env python3
"""Knowledge-graph serving benchmark for the graft engine.

    python3 perfbench/run.py --workload kg_serve --seed 1 --seconds 30 --trace 0

Builds the program and the client from source (once per source state),
generates the seeded inputs, runs one closed-loop WebSocket client
against graft.server.WireServer, checks every reply against answers
computed here, and prints one JSON line last. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("kg_serve", "kg_maintain")
WARMUP_ROUNDS = 2
TRACE_ROUNDS = 4
RECALL_FLOOR = 0.5   # per probe, recall@10 against exact cosine top-10
DIST_TOL = 1e-3      # |reported distance - recomputed cosine distance|
JVM_TIMEOUT_S = 170

# Per-layer metrics of the traced run: per operation family, spans around
# the calls into each layer, Spark work from the benchmark's listener, and
# the wire's share. A time that is zero by construction on one workload
# (no writes on kg_serve, no jobs for a probe) is left out.
_FAMILIES = ("tc", "agg", "agg_large", "bound", "join", "ann")
PER_LAYER = ([(f"{f}.{q}", u) for f in _FAMILIES for q, u in (
    ("parse_ms", "ms"), ("eval_ms", "ms"), ("catalyst_ms", "ms"), ("collect_ms", "ms"),
    ("driver_ms", "ms"), ("wire_ms", "ms"), ("jobs", "count"), ("shuffle_kb", "KiB"))]
    + [(f"{f}.sched_ms", "ms") for f in _FAMILIES if f != "ann"]
    + [("agg_large.spill_kb", "KiB"), ("gc_ms", "ms"), ("ann.hnsw_search_ms", "ms"),
       ("setup.index_build_s", "s"), ("setup.load_s", "s")])
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    sub = shutil.which("spark-submit")
    if sub:
        return os.path.dirname(os.path.dirname(os.path.realpath(sub)))
    sys.exit("run.py: SPARK_HOME is not set and spark-submit is not on PATH")


def source_stamp():
    files = sorted(glob.glob(f"{ROOT}/src/main/scala/**/*.scala", recursive=True)
                   + glob.glob(f"{HERE}/src/**/*.scala", recursive=True)
                   + [f"{HERE}/build.sbt", f"{HERE}/project/build.properties"])
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + client unless the sources are unchanged."""
    if not glob.glob(f"{ROOT}/src/main/scala/graft/**/*.scala", recursive=True):
        sys.exit("run.py: the program's sources (src/main/scala/graft) are missing")
    stamp_file = f"{HERE}/target/build.stamp"
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.exists(f"{HERE}/target/classpath.txt"):
        return
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=880)
    if p.returncode != 0:
        log(p.stdout[-4000:])
        sys.exit(f"run.py: build failed (exit {p.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"[perfbench] built in {time.time() - t0:.1f} s")


def proc_stat():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v[:8])


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# ---------------------------------------------------------------- checks

def messages(text):
    return [json.loads(line) for line in text.split("\n") if line.strip()]


def result_rows(text):
    ms = messages(text)
    if ms[0].get("type") == "result":
        return ms[0]["rows"]
    if ms[0].get("type") == "result_start":
        return [r for m in ms if m.get("type") == "result_chunk" for r in m["rows"]]
    raise ValueError(f"not a result: {text[:200]}")


def same_rows(got, want):
    got = sorted(tuple(r) for r in got)
    if len(got) != len(want):
        return False
    return all(len(a) == len(b) and all(
        x == y or (isinstance(x, float) and abs(x - y) <= 1e-9 * max(1.0, abs(y)))
        for x, y in zip(a, b)) for a, b in zip(got, sorted(want)))


def check_ann(text, want, plan, stats):
    import numpy as np
    from gen import exact_topk, K
    rows = result_rows(text)
    vecs, ids = plan["vecs"], plan["vec_ids"]
    if "extra" in want:
        nid, nv = want["extra"]
        vecs = np.vstack([vecs, nv[None, :]])
        ids = np.append(ids, nid)
    got = [(int(r[-2]), float(r[-1])) for r in rows]
    if len(got) != K or len({g for g, _ in got}) != K:
        return False
    # the vector inserted beside the probe is its exact nearest neighbour,
    # so a reply that misses it did not see the write
    if "extra" in want and want["extra"][0] not in {g for g, _ in got}:
        return False
    exact = exact_topk(vecs, ids, want["ann"])
    recall = len({g for g, _ in got} & set(exact)) / K
    stats.append(recall)
    pos = {int(i): n for n, i in enumerate(ids)}
    q = want["ann"] / np.linalg.norm(want["ann"])
    for gid, d in got:
        if gid not in pos:
            return False
        v = vecs[pos[gid]]
        if abs((1.0 - float(v @ q) / float(np.linalg.norm(v))) - d) > DIST_TOL:
            return False
    return recall >= RECALL_FLOOR


def check_reply(text, want, plan, stats):
    try:
        if want is None:
            return messages(text)[0].get("type") == "ack"
        if isinstance(want, dict):
            return check_ann(text, want, plan, stats)
        return same_rows(result_rows(text), want)
    except Exception as e:  # a malformed reply is a failed check
        log(f"[perfbench] reply check error: {e}")
        return False


def check_ops(done, plan, replies, stats):
    """Mark each operation ok/failed; returns the list of booleans."""
    cache = {}
    oks = []
    for d in done:
        op = plan["pools"][d["family"]][d["variant"]]
        ok = True
        for i, rid in enumerate(d["replies"]):
            key = (d["family"], d["variant"], i, rid)
            if key not in cache:
                cache[key] = check_reply(replies[rid], op["expect"][i], plan, stats)
            ok = ok and cache[key]
        oks.append(ok)
    return oks


# --------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def lower_quartile(xs):
    """The end-to-end statistic: bursts of contention from outside the
    benchmark lengthen some operations of a run; the lower quartile of a
    run's latencies moves less under them than the median does."""
    if len(xs) < 2:
        return xs[0] if xs else float("nan")
    return statistics.quantiles(xs, n=4, method="inclusive")[0]


def p90_if_tail(xs):
    """The 90th percentile, only when at least ten samples lie beyond it."""
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= 100 else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    a = ap.parse_args()

    build()
    import gen
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t_gen = time.time()
        plan = gen.generate(a.seed, work, a.workload)
        log(f"[perfbench] inputs generated in {time.time() - t_gen:.1f} s")
        probes = [json.dumps([float(x) for x in e["ann"]])
                  for op in plan["pools"]["ann"] for e in op["expect"] if isinstance(e, dict)]
        with open(f"{work}/plan.json", "w") as f:
            json.dump({"setup": plan["setup"], "session": plan["session"],
                       "families": plan["families"], "reps": plan["reps"],
                       "pools": {k: [o["reqs"] for o in v] for k, v in plan["pools"].items()},
                       "warmup_rounds": WARMUP_ROUNDS, "trace_rounds": TRACE_ROUNDS,
                       "ann_probes": probes}, f)
        with open(f"{HERE}/target/classpath.txt") as f:
            cp = f.read().strip()
        cpus = len(os.sched_getaffinity(0))
        cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
               + ["-Xmx4g", "-Xms2g", "-XX:CompileThresholdScaling=0.1", "-XX:-UsePerfData",
                  f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
                  "-cp", cp, "perfbench.Client", "--plan", f"{work}/plan.json",
                  "--out", f"{work}/out.json", "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--cpus", str(cpus), "--work", work])
        steal0, load0 = proc_stat(), loadavg()
        with open(f"{work}/jvm.log", "w") as logf:
            p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                rc = "timeout"
        steal1, load1 = proc_stat(), loadavg()
        if rc != 0:
            with open(f"{work}/jvm.log") as f:
                log(f.read()[-6000:])
            sys.exit(f"run.py: benchmark JVM failed ({rc})")
        with open(f"{work}/out.json") as f:
            out = json.load(f)

        replies = out["replies"]
        stats = []
        setup_ok = all(messages(replies[i])[0].get("type") == "ack" for i in out["setup_replies"])
        warm_ok = all(check_ops(out["warmup"], plan, replies, stats))
        timed = out["ops"]
        oks = check_ops(timed, plan, replies, stats)
        traced_ok = all(check_ops(out.get("traced", []), plan, replies, stats))
        attempted, failed = len(timed), oks.count(False)

        fams = plan["families"]
        lat = {f: [d["ms"] for d, ok in zip(timed, oks) if d["family"] == f and ok] for f in fams}
        for f in fams:
            n = sum(1 for d in timed if d["family"] == f)
            nf = sum(1 for d, ok in zip(timed, oks) if d["family"] == f and not ok)
            p90 = p90_if_tail(lat[f])
            print(f"[perfbench] {f}: attempted {n} failed {nf} lower quartile "
                  f"{lower_quartile(lat[f]):.2f} ms median {median(lat[f]):.2f} ms"
                  + (f" p90 {p90:.2f} ms" if p90 is not None else ""))
        print("[perfbench] samples_ms " + json.dumps({f: [round(x, 2) for x in lat[f]] for f in fams}))
        if stats:
            print(f"[perfbench] ann recall@10 mean {sum(stats) / len(stats):.4f} "
                  f"min {min(stats):.2f} over {len(stats)} checked replies")
        s0, t0 = steal0
        s1, t1 = steal1
        sentinel = dict(out["sentinel"], steal_pct=round(100.0 * (s1 - s0) / max(1, t1 - t0), 2),
                        load_start=load0, load_end=load1)
        print("[perfbench] sentinel " + json.dumps(sentinel))
        print("[perfbench] setup phases " + json.dumps({k: round(v, 3) for k, v in out["phases"].items()}))

        if a.trace:
            fam_tr = out["trace"]["families"]
            for f in fams:
                fam_tr[f]["wire_ms"] = median(lat[f]) - fam_tr[f]["wall_ms"]
                print(f"[perfbench] trace {f}: " + json.dumps({k: round(v, 3) for k, v in fam_tr[f].items()}))
            layer = {"ann.hnsw_search_ms": out["trace"]["hnsw_search_ms"],
                     "setup.index_build_s": out["phases"]["index_build_s"],
                     "setup.load_s": out["phases"]["load_s"],
                     "gc_ms": out["gc_ms_per_op"]}
            layer.update({f"{f}.{q}": fam_tr[f][q] for f in fams for q in fam_tr[f]})
            metrics = {name: {"value": layer[name], "unit": unit} for name, unit in PER_LAYER}
        else:
            metrics = {"setup_s": {"value": out["setup_s"], "unit": "s"},
                       "heap_mb": {"value": out["heap_mb"], "unit": "MiB"}}
            for f in fams:
                metrics[f"{f}_ms"] = {"value": lower_quartile(lat[f]), "unit": "ms"}
        correct = setup_ok and warm_ok and traced_ok and all(
            not math.isnan(m["value"]) for m in metrics.values())
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
