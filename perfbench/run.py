#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and
the benchmark program from source with sbt (cached under `.bench_build/`
until a source file changes) and generates the corpus; every run then
starts one benchmark JVM, checks its answers against independent
oracles and prints, as its last line, one JSON object
`{"correct", "attempted", "failed", "metrics"}` — the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. The lines
before it carry the run's provenance and the full metric table.
Exit code 0 only when every answer was correct. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import corpus  # noqa: E402
import gen  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("sparql_read", "analytics_headline")
JVM_HEAP = "3g"
# the whole command must end within this many seconds
DEADLINE_S = 175
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _sources():
    """Every file the build reads, for the build fingerprint."""
    out = [os.path.join(ROOT, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
              os.path.join(HERE, "project"), os.path.join(HERE, "src")):
        for dp, dns, fns in os.walk(d):
            dns[:] = [x for x in dns if x not in ("target", "project")]
            out += [os.path.join(dp, f) for f in fns
                    if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    out.append(os.path.join(HERE, "build.sbt"))
    return sorted(p for p in out if os.path.isfile(p))


def fingerprint():
    h = hashlib.sha256()
    for p in _sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(fp, deadline):
    """(classpath, built_now) of the benchmark program, building it first
    when the sources changed since the last build."""
    stamp = os.path.join(WORK, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp:
            return cached["classpath"], False
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "sbt.repository.config" not in opts:
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    os.makedirs(WORK, exist_ok=True)
    log("building the engine and the benchmark program (sbt)")
    with open(os.path.join(WORK, "build.log"), "w") as logf:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=logf,
                stdin=subprocess.DEVNULL, text=True,
                timeout=max(60, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("build timed out")
        logf.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {WORK}/build.log")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp, True


# ----------------------------------------------------------- provenance

def _cpu_jiffies():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), sum(v) - v[3] - (v[4] if len(v) > 4 else 0)


def _tree_jiffies(pid):
    """utime+stime of `pid` and its live descendants."""
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/stat") as f:
                total += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:13])
            with open(f"/proc/{p}/task/{p}/children") as f:
                todo += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return total


def load_sample(window=0.25):
    """loadavg, the CPU cores other processes used over a short window,
    and the seconds a fixed pure-Python loop takes (the machine's speed
    right now: co-tenants of the host slow it without showing in this
    machine's CPU counters)."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    t = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    probe = time.perf_counter() - t
    ncpu = os.cpu_count() or 1
    t1, b1 = _cpu_jiffies()
    s1 = _tree_jiffies(os.getpid())
    time.sleep(window)
    t2, b2 = _cpu_jiffies()
    s2 = _tree_jiffies(os.getpid())
    cot = max(0.0, (b2 - b1) - (s2 - s1)) / max(1, t2 - t1) * ncpu
    return {"loadavg": load, "cotenant_cores": round(cot, 3),
            "cpu_probe_s": round(probe, 4)}


def corpus_info(d):
    files = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
    newest = max(os.path.getmtime(f) for f in files)
    return {"path": os.path.relpath(d, ROOT),
            "bytes": sum(os.path.getsize(f) for f in files),
            "newest_file_age_s": round(time.time() - newest, 1),
            "generator": f"perfbench/corpus.py v{corpus.VERSION} "
                         f"seed={corpus.CORPUS_SEED} sf={corpus.SF}"}


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# -------------------------------------------------------------- metrics

def pct(xs, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def e2e(res, samples, ok):
    """The full end-to-end table of the untraced phase A."""
    a = [s for s in samples if s["phase"] == "A"]
    el = res["phases"]["A"]
    # a headline query is the analytics workload's read
    reads = [s["lat_ms"] for s in a if ok(s)]
    by_t = {}
    for s in a:
        if ok(s):
            by_t.setdefault(s["template"], []).append(s["lat_ms"])
    st = res["store"]
    m = {
        "setup_s": res["setup"]["setup_s"],
        "read_p50_ms": pct(reads, 50), "read_p75_ms": pct(reads, 75),
        "read_p90_ms": pct(reads, 90),
        "read_qps": len(reads) / el,
        "pass_s": sum(statistics.median(v) for v in by_t.values()) / 1000.0,
        "heap_retained_mb": res["resources"]["heap_retained_mb"],
        "peak_rss_mb": res["resources"]["peak_rss_mb"],
        "disk_bytes_per_triple": st["bytes"] / max(1, st["live_triples"]),
    }
    counts = {"reads": len(reads), "seconds": el,
              "reads_beyond_p75": sum(1 for x in reads if x > m["read_p75_ms"]),
              "reads_beyond_p90": sum(1 for x in reads if x > m["read_p90_ms"]),
              "template_p50_ms": {t: round(statistics.median(v), 1) for t, v in
                                  sorted(by_t.items(), key=lambda kv: statistics.median(kv[1]))}}
    return m, counts


def template_shares(samples, phase):
    n = {}
    for s in samples:
        if s["phase"] == phase:
            n[s["template"]] = n.get(s["template"], 0) + 1
    tot = sum(n.values()) or 1
    return {t: round(c / tot, 4) for t, c in sorted(n.items())}


# ----------------------------------------------------------------- main

def jvm_cmd(cp, workload, a, run_dir, req_file, cpus, spawn_ms):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{JVM_HEAP}"] + opens + [
        # no hsperfdata file outside the checkout
        "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        f"-Dderby.system.home={run_dir}",
        "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--seed", str(a.seed),
        "--corpus", os.path.join(WORK, "corpus"), "--run-dir", run_dir,
        "--requests", req_file, "--spawn-ms", str(spawn_ms), "--cpus", str(cpus)])


def prune(parent, prefix, keep):
    """Delete all but the `keep` most recently used `prefix*` directories
    under `parent`."""
    if not os.path.isdir(parent):
        return
    old = sorted((d for d in os.listdir(parent) if d.startswith(prefix)),
                 key=lambda d: os.path.getmtime(os.path.join(parent, d)))
    for d in old[:-keep]:
        shutil.rmtree(os.path.join(parent, d), ignore_errors=True)


def run_jvm(cmd, run_dir, env, budget, name):
    """Run one benchmark JVM to its end; its exit code."""
    with open(os.path.join(run_dir, f"{name}.out"), "w") as out, \
            open(os.path.join(run_dir, f"{name}.err"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=err,
                                stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{name} process exceeded {budget:.0f} s", 1)


def ensure_layouts(cp, a, run_dir, env, cpus, deadline):
    """The analytics workload's persisted layouts for this build, written
    by an untimed process of their own the first time (about 35 s)."""
    pstore = env["SPARK_GRAFT_PSTORE_DIR"]
    if os.path.exists(os.path.join(pstore, "_PERFBENCH_BUILD.json")):
        os.utime(pstore)
        return
    shutil.rmtree(pstore, ignore_errors=True)
    os.makedirs(pstore)
    log("writing the persisted layouts of this build (once)")
    rc = run_jvm(jvm_cmd(cp, "layouts", a, run_dir, "-", cpus, int(time.time() * 1000)),
                 run_dir, env, max(30.0, deadline - time.time()), "layouts")
    if rc != 0:
        fail(f"layout build failed (exit {rc}); logs in {run_dir}", 1)


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources next to perfbench/ (build.sbt, src/main/scala)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    load_start = load_sample()
    fp = fingerprint()
    # the first run of a checkout builds: give it the long budget
    cp, built = build(fp, t_start + 850)
    cdir = corpus.ensure(os.path.join(WORK, "corpus"))
    prune(os.path.join(WORK, "runs"), "", 6)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    reqs = gen.generate(a.workload, a.seed, cdir)
    req_file = os.path.join(run_dir, "requests.json")
    with open(req_file, "w") as f:
        # the program receives only the SPARQL text of each request
        json.dump(dict({k: [{"id": r["id"], "template": r["template"], "text": r["text"]}
                            for r in reqs[k]] for k in ("reads", "warmup", "updates")},
                       block=reqs["block"]), f)

    env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    cpus = int(env_cpus) if env_cpus else len(os.sched_getaffinity(0))
    # persisted layouts of the analytics queries: one directory per build,
    # the few most recently used kept
    pstore = os.path.join(WORK, f"pstore-{fp[:16]}")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_PSTORE_DIR=pstore)
    end = t_start + (850 if built else DEADLINE_S) - 8
    if a.workload == "analytics_headline":
        ensure_layouts(cp, a, run_dir, env, cpus, end)
        prune(WORK, "pstore-", 3)
    spawn_ms = int(time.time() * 1000)
    rc = run_jvm(jvm_cmd(cp, a.workload, a, run_dir, req_file, cpus, spawn_ms),
                 run_dir, env, max(30.0, end - time.time()), "jvm")
    res_path = os.path.join(run_dir, "jvm_result.json")
    if rc != 0 or not os.path.exists(res_path):
        with open(os.path.join(run_dir, "jvm.err")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark process failed (exit {rc}); logs in {run_dir}", 1)
    with open(res_path) as f:
        res = json.load(f)

    # ---- correctness
    t_jvm_end = time.time()
    log(f"benchmark process: {t_jvm_end - spawn_ms / 1000:.1f} s")
    samples = res["samples"]
    con = check.connect(cdir)
    failed, attempted, bad, problems = check.judge(
        res, reqs, con, os.path.join(cdir, "oracle-cache"))
    con.close()
    correct = failed == 0

    def ok(s):
        return s["id"] not in bad

    log(f"answer checks: {time.time() - t_jvm_end:.1f} s")
    # ---- metrics
    full, counts = e2e(res, samples, ok)
    full["fail_share"] = failed / max(1, attempted)
    load_end = load_sample()
    prov = {
        "git_commit": git_commit(), "source_fingerprint": fp,
        "nproc": os.cpu_count(), "cpus_used": cpus,
        "SPARK_GRAFT_CPUS": env_cpus, "jvm": res["versions"],
        "jvm_heap": JVM_HEAP, "corpus": corpus_info(cdir),
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "clients": res.get("clients"), "trace": bool(a.trace),
        "load_start": load_start, "load_end": load_end, "run_dir":
        os.path.relpath(run_dir, ROOT)}
    details = {"metrics": full, "samples": counts,
               "setup": res["setup"], "phases": res["phases"],
               "store": {k: v for k, v in res["store"].items() if k != "bench_triples"},
               "generated_mix": {t: k / gen.BLOCK for t, k in gen.READ_MIX}
               if a.workload == "sparql_read" else None,
               "realized_mix": template_shares(samples, "A"),
               "problems": problems}
    if a.trace:
        layers = res["layers"]
        details["layers"] = layers
        details["trace_overhead_ms"] = layers.get("trace.overhead_ms")
        details["spans"] = os.path.relpath(os.path.join(run_dir, "spans.jsonl"), ROOT)
        names = [m["name"] for m in spec["per_layer"]]
        if set(names) != set(layers):
            fail("the program's per-layer metrics and BENCHMARK.json's per_layer "
                 f"differ: only in the program {sorted(set(layers) - set(names))}, "
                 f"only in BENCHMARK.json {sorted(set(names) - set(layers))}", 1)
        metrics = {n: {"value": layers[n], "unit": u} for n, u in
                   ((m["name"], m["unit"]) for m in spec["per_layer"])}
        print_layer_table(layers, names)
    else:
        metrics = {m["name"]: {"value": full[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"provenance": prov}))
    print(json.dumps({"details": details}))
    for p in problems:
        log(f"FAIL {p}")
    # keep the small artifacts of the run, drop its stores
    for d in ["store", "side", "answers", "tmp", "warehouse"]:
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    sys.exit(0 if correct else 1)


def print_layer_table(layers, names):
    width = max(len(n) for n in names)
    lines = [f"{n:<{width}}  {layers[n]:.4f}" for n in names]
    print("\n".join(["per-layer metrics (traced run):"] + lines))


if __name__ == "__main__":
    main()
