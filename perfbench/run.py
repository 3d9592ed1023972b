#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload olap --seed 1 --seconds 30 --trace 0

It builds the harness and the program from the checkout's sources (sbt,
once per source digest), generates the workload's input tables
(perfbench/gen.py, once per scale), starts one JVM with a `local[nproc]`
session, runs the workload's faces in a closed loop with one client (two
warm-up passes, then timed passes for `--seconds`, at least three;
perfbench/src/.../Main.scala), checks every face's output fingerprint against
perfbench/expected/sf<scale>.json, and prints as its last stdout line one
JSON object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
The line before it stamps the machine and the build. See README.md.

Maintenance modes (not used by a timed run):
  --record         write the run's fingerprints as the expected ones
  --self-test      show that a corrupted expectation turns a run red
  --oracle-check   cross-check the expectations against the DuckDB oracle
                   (graft.Verify + tools/check.py)

A timed run writes only under perfbench/.work (git-ignored); --record and
--oracle-check also update perfbench/expected.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
# the JVM is stopped after this, or four times --seconds for a longer run
# (the full face lists, run by hand, take minutes a pass)
RUN_LIMIT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the group and wait."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def digest(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def source_digest():
    return digest([os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                   os.path.join(BENCH, "build.sbt"),
                   os.path.join(BENCH, "project", "build.properties")])


def build():
    """Compile the program and the harness; return the runtime classpath."""
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no graft sources here ({need} missing); run from a graft checkout")
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    stamp = os.path.join(WORK, "build.stamp")
    want = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == want:
        return open(cp_file).read().strip(), want
    log("building (sbt writeClasspath)")
    t0 = time.time()
    rc = run_bounded(["sbt", "-batch", "writeClasspath"], BUILD_TIMEOUT_S, cwd=BENCH,
                     stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {rc})")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.1f}s")
    return open(cp_file).read().strip(), want


def dataset(sf):
    """Generate (once) the tables at scale factor sf; return (dir, gen_s)."""
    gen = os.path.join(BENCH, "gen.py")
    d = os.path.join(WORK, "data", f"sf{sf}-{digest([gen])}")
    done = os.path.join(d, "gen_s")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        rc = run_bounded([sys.executable, gen, d, str(sf)], 600)
        if rc != 0:
            fail(f"data generation failed (exit {rc})")
        with open(done, "w") as f:
            f.write(repr(time.time() - t0))
    return d, float(open(done).read())


def heap_gb():
    """The repo's Tier-1 sizing: half of MemTotal, clamped to 2..8 GiB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
        return min(max(kb // 2097152, 2), 8)
    except (OSError, StopIteration):
        return 2


def proc_stat():
    """(steal jiffies, total jiffies) from /proc/stat, or None."""
    try:
        f = open("/proc/stat").readline().split()[1:]
        v = [int(x) for x in f]
        return v[7] if len(v) > 7 else 0, sum(v)
    except OSError:
        return None


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def java_cmd(cp, tmp):
    """The JVM command line, up to the main class: heap, scratch dirs inside
    the checkout, and the module opens Spark needs outside spark-submit.
    The heap is fixed at its size (-Xms = -Xmx): the full collection between
    faces would otherwise shrink it, and each face would spend a varying
    part of its time growing it back. The young generation is fixed too
    (-Xmn1g), so that where collections fall, and the resident memory, do
    not follow the collector's adaptive sizing."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    heap = f"{heap_gb()}g"
    cmd = [java, f"-Xms{heap}", f"-Xmx{heap}", "-Xmn1g", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dderby.system.home={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp]


def run_harness(cp, data, w, seed, seconds, trace, tag):
    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    tmp = os.path.join(WORK, f"tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
    out = os.path.join(tmp, "result.json")
    spans = os.path.join(WORK, "trace", f"{tag}-spans.json")
    cmd = java_cmd(cp, tmp) + ["graft.perfbench.Main", "--data", data, "--faces", ",".join(w["faces"]),
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0",
            "--cpus", str(cpus), "--out", out] + (["--spans", spans] if trace else [])
    stat0, load0 = proc_stat(), os.getloadavg()
    try:
        rc = run_bounded(cmd, max(RUN_LIMIT_S, 4 * seconds), cwd=tmp, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))
        if rc != 0 or not os.path.exists(out):
            fail(f"harness failed (exit {rc})")
        res = json.load(open(out))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    stat1, load1 = proc_stat(), os.getloadavg()
    if stat0 and stat1 and stat1[1] > stat0[1]:
        res["steal_share"] = (stat1[0] - stat0[0]) / (stat1[1] - stat0[1])
    res["loadavg_1m"] = [load0[0], load1[0]]
    res["spans_file"] = os.path.relpath(spans, ROOT) if trace else None
    return res


def median(xs):
    return statistics.median(xs) if xs else 0.0


def check(faces_obs, expected):
    """Count failed observations: an error, a missing expectation, or an
    output fingerprint that differs from the expected one."""
    failed = []
    for o in faces_obs:
        if o["error"] is not None:
            failed.append((o["name"], o["error"]))
        elif expected.get(o["name"]) != o["fp"]:
            failed.append((o["name"], f"fingerprint {o['fp']} != {expected.get(o['name'])}"))
    return failed


def wall(o):
    return o["construct_s"] + o["action_s"]


def face_medians(obs, key):
    by = {}
    for o in obs:
        by.setdefault(o["name"], []).append(key(o))
    return {k: median(v) for k, v in by.items()}


def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it (the
    median when there are too few samples), with its percentile."""
    v = sorted(values)
    i = max(len(v) - 1 - beyond, (len(v) - 1) // 2)
    return v[i], round(100.0 * (i + 1) / len(v), 1)


def end_to_end(res):
    """Each face's median over the timed untraced passes, summed over the
    faces (makespan). The stamp gets the median across the faces (on
    llm_ingest one face's time, which is bimodal), the tail over every such
    observation (a run has too few of them for a percentile with ten
    samples beyond it) and the process CPU seconds: all three too unsteady
    to bound."""
    obs = [o for o in res["faces"] if o["timed"] and not o["traced"]]
    per_face = face_medians(obs, wall)
    tail_s, tail_pct = tail(map(wall, obs))
    return {
        "setup_s": (res["setup_s"], "s"),
        "makespan_s": (sum(per_face.values()), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }, {"face_p50_s": median(list(per_face.values())),
        "face_tail_s": tail_s, "face_tail_pct": tail_pct, "face_samples": len(obs),
        "cpu_s": sum(face_medians(obs, lambda o: o["cpu_s"]).values())}


MAX_KEYS = {"spark.peak_exec_mem_mb", "streaming.state_rows_peak", "session.heap_after_gc_mb"}


def self_times(spans_file):
    """Self time of each construct and action span: its duration minus the
    part of it that its Spark jobs cover."""
    spans = json.load(open(spans_file))
    jobs = {}
    for s in spans:
        if s["kind"] == "job":
            jobs.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {"construct": 0.0, "action": 0.0}
    for s in spans:
        if s["kind"] not in out:
            continue
        covered, end = 0.0, s["start"]
        for a, b in sorted(jobs.get(s["id"], [])):
            a, b = max(a, end), min(b, s["end"])
            if b > a:
                covered += b - a
                end = b
        out[s["kind"]] += max(s["end"] - s["start"] - covered, 0.0) / 1000.0
    return out


def unit(k):
    if k in ("spark.exchange_reuse", "spark.core_busy"):
        return "ratio"
    for suffix, u in (("_s", "s"), ("_mb", "MB"), ("_ms", "ms")):
        if k.endswith(suffix):
            return u
    return "count"


def per_layer(res, gen_s):
    """Layer metrics of the traced pass, summed over its faces (peaks take
    the maximum), plus self times from the spans and the tracing overhead."""
    traced = [o for o in res["faces"] if o["traced"]]
    untraced = [o for o in res["faces"] if o["timed"] and not o["traced"]]
    m = {}
    for o in traced:
        for k, v in o["layers"].items():
            m[k] = max(m.get(k, 0.0), v) if k in MAX_KEYS else m.get(k, 0.0) + v
    exch = m.pop("spark.exchanges", 0.0) + m.get("spark.reused_exchanges", 0.0)
    m["spark.exchanges"] = exch
    m["spark.exchange_reuse"] = m.pop("spark.reused_exchanges", 0.0) / exch if exch else 0.0
    action_wall = m.pop("spark.action_wall_s", 0.0)
    action_run = m.pop("spark.action_run_s", 0.0)
    m["spark.core_busy"] = action_run / (action_wall * res["cpus"]) if action_wall else 0.0
    batches = sorted(b for o in traced for b in o["batch_ms"])
    m["streaming.batch_p50_ms"] = median(batches)
    m["streaming.batch_tail_ms"] = tail(batches)[0] if batches else 0.0
    selfs = self_times(os.path.join(ROOT, res["spans_file"]))
    m["SparkEntry.construct_self_s"] = selfs["construct"]
    m["spark.action_self_s"] = selfs["action"]
    # against the untraced makespan of the same run
    m["trace_overhead_s"] = sum(map(wall, traced)) - sum(face_medians(untraced, wall).values())
    m["gen_s"] = gen_s
    return {k: (v, unit(k)) for k, v in m.items()}


def self_test(res, expected):
    """A run is green against its expectations and red against a copy with
    one face's fingerprint changed or removed."""
    ok = not check(res["faces"], expected)
    print(f"{'PASS' if ok else 'FAIL'}  run matches the stored expectations")
    name = res["faces"][0]["name"]
    n_obs = sum(o["name"] == name for o in res["faces"])
    corrupted = dict(expected, **{name: "0:" + expected.get(name, "0")})
    bad = check(res["faces"], corrupted)
    hit = len(bad) == n_obs and all(n == name for n, _ in bad)
    print(f"{'PASS' if hit else 'FAIL'}  corrupted {name}: {len(bad)} of "
          f"{len(res['faces'])} observations failed (want {n_obs})")
    missing = {k: v for k, v in expected.items() if k != name}
    gone = len(check(res["faces"], missing)) == n_obs
    print(f"{'PASS' if gone else 'FAIL'}  missing expectation for {name} fails its observations")
    return ok and hit and gone


def oracle_check(cp, data, w, sf):
    """Cross-check the stored fingerprints against the DuckDB oracle: run
    graft.Verify on the faces, check its results with tools/check.py, and
    fingerprint the same results."""
    out = os.path.join(WORK, "oracle", f"sf{sf}")
    tmp = os.path.join(WORK, f"tmp-{os.getpid()}")
    for d in (out, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    faces = ",".join(w["faces"])
    try:
        env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
        if run_bounded(java_cmd(cp, tmp) + ["graft.Verify", data, out, faces], 3000,
                       cwd=tmp, stdout=sys.stderr, stderr=sys.stderr, env=env) != 0:
            fail("graft.Verify failed")
        chk = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), data, out],
                             capture_output=True, text=True, timeout=1800)
        fps = subprocess.run(java_cmd(cp, tmp) + ["graft.perfbench.FingerprintDump", out, faces],
                             cwd=tmp, capture_output=True, text=True, timeout=1800, env=env)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    verdict = {}
    for line in chk.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("PASS", "FAIL", "rows"):
            verdict[parts[1].rstrip(":")] = {"PASS": "pass", "FAIL": "fail"}.get(parts[0], "rows-only")
    got = json.loads(fps.stdout.strip().splitlines()[-1])
    exp_file = os.path.join(BENCH, "expected", f"sf{sf}.json")
    expected = json.load(open(exp_file))
    rec_file = os.path.join(BENCH, "expected", f"oracle-sf{sf}.json")
    rec = json.load(open(rec_file)) if os.path.exists(rec_file) else {}
    for f in w["faces"]:
        rec[f] = {"oracle": verdict.get(f, "missing"),
                  "fingerprint": "match" if got.get(f) == expected.get(f) else "mismatch"}
        print(f"{f:36s} oracle {rec[f]['oracle']:9s} fingerprint {rec[f]['fingerprint']}")
    with open(rec_file, "w") as fh:
        json.dump(dict(sorted(rec.items())), fh, indent=1)
        fh.write("\n")
    return all(r["oracle"] != "fail" and r["fingerprint"] == "match"
               for f, r in rec.items() if f in w["faces"])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--oracle-check", action="store_true")
    args = ap.parse_args()
    # a terminated run still stops the JVM it started (run_bounded kills
    # the process group on the way out)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.chdir(ROOT)
    spec = json.load(open(os.path.join(BENCH, "workloads.json")))["workloads"]
    if args.workload not in spec:
        fail(f"unknown workload {args.workload}; have {', '.join(spec)}")
    w = spec[args.workload]
    cp, src = build()
    data, gen_s = dataset(w["sf"])
    if args.oracle_check:
        sys.exit(0 if oracle_check(cp, data, w, w["sf"]) else 1)
    tag = f"{args.workload}-seed{args.seed}"
    res = run_harness(cp, data, w, args.seed, args.seconds, args.trace == 1, tag)
    exp_file = os.path.join(BENCH, "expected", f"sf{w['sf']}.json")
    expected = json.load(open(exp_file)) if os.path.exists(exp_file) else {}
    if args.record:
        fps = {}
        for o in res["faces"]:
            if o["error"] or fps.setdefault(o["name"], o["fp"]) != o["fp"]:
                fail(f"cannot record: {o['name']} errored or is not deterministic")
        expected.update(fps)
        with open(exp_file, "w") as f:
            json.dump(dict(sorted(expected.items())), f, indent=1)
            f.write("\n")
        log(f"recorded {len(fps)} fingerprints in {os.path.relpath(exp_file, ROOT)}")
    if args.self_test:
        sys.exit(0 if self_test(res, expected) else 1)
    failed = check(res["faces"], expected)
    for name, why in failed:
        log(f"FAILED {name}: {why}")
    stamp = {k: res.get(k) for k in ("cpus", "heap_mb", "jdk", "spark", "seed", "steal_share",
                                     "loadavg_1m", "loop_s", "run_s", "spans_file")}
    stamp.update(workload=args.workload, seconds=args.seconds, commit=git_commit(),
                 source_digest=src,
                 gen_s=gen_s, passes=len({o["pass"] for o in res["faces"]}))
    if args.trace:
        metrics = per_layer(res, gen_s)
    else:
        metrics, extra = end_to_end(res)
        stamp.update(extra)
    with open(os.path.join(WORK, "trace", f"{tag}-faces.json"), "w") as f:
        json.dump(res, f)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(res["faces"]),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }))


if __name__ == "__main__":
    main()
