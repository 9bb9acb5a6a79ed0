#!/usr/bin/env python3
"""The repo's benchmark: seeded TLQ, FaaS report and curation pipelines,
run through the library's public functions and checked against DuckDB.

    python3 perfbench/run.py --workload tlq_sales --seed 1 --seconds 20 --trace 0

A workload is one or more pipelines ("parts"); a pass runs its parts
one after another in one JVM.

Run from the repository root. The first run builds the library and the
benchmark from source with sbt (into ./target, ./perfbench/target and
./.bench_build); later runs reuse the build until a source changes.
Inputs are generated from the seed into .bench_build/inputs, one
directory per part, the DuckDB oracle is computed once per seed, then
one JVM sets up and runs timed passes for --seconds. Every pass's outputs are checked against
the oracle afterwards. The last line of stdout is the result:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
The line before it is the full record (environment stamp, input
description, every metric and the reasons for failures).
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen      # noqa: E402
import layers   # noqa: E402
import oracle   # noqa: E402

WORKLOADS = {
    # parts with their input sizes, untimed warm-up passes, least timed
    # passes with --trace 0 and with --trace 1. TLQ's short passes keep
    # getting faster (JIT) for their first few passes, so it reports the
    # median of three. The FaaS report and the curation chain are both
    # bound by per-job fixed cost, so their input sizes barely move a
    # pass's time; they share a run so that their cold start is paid
    # once. Run lengths are set by the check budget (see README).
    "tlq_sales": {"parts": {"tlq_sales": 60_000}, "warmup_passes": 1,
                  "min_passes": 3, "trace_passes": 4},
    "faas_curation": {"parts": {"faas_report": 300, "curation_chain": 300},
                      "warmup_passes": 1, "min_passes": 1, "trace_passes": 2},
}
QUERIES_PER_PASS = 4
SETUP_ROUNDS = 3
HEAP = "3g"
# the JVM is killed if it runs this much longer than --seconds: set-up,
# warm-up and the minimum passes fit well inside it
JVM_GRACE_S = 150
# Spark on JDK 17 needs these when launched outside spark-submit; the
# same list the library's build.sbt passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_hash(root):
    """Digest of every file the build reads, to decide on a rebuild."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src"]
    for top in tops:
        p = os.path.join(root, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, work):
    """Compile library + benchmark with sbt once; cache the classpath."""
    stamp = os.path.join(work, "build.json")
    digest = source_hash(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            info = json.load(f)
        if info.get("source") == digest and all(
                os.path.exists(p) for p in info["classpath"].split(os.pathsep)[:2]):
            return info
    sbt_dir = os.path.join(work, "sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    opts += (f" -Dsbt.global.base={sbt_dir}/global"
             f" -Dsbt.boot.directory={sbt_dir}/boot"
             f" -Dsbt.ivy.home={sbt_dir}/ivy"
             f" -Djava.io.tmpdir={work}/tmp -Dsbt.server.forcestart=false")
    env["SBT_OPTS"] = opts.strip()
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    info = {"source": digest, "classpath": lines[-1].strip(),
            "build_s": round(time.time() - t0, 1)}
    with open(stamp, "w") as f:
        json.dump(info, f)
    return info


def library_sql(work, info):
    """Oracle SQL the library ships (reused by the curation check)."""
    path = os.path.join(work, f"library_sql-{info['source'][:16]}.json")
    if not os.path.exists(path):
        run_jvm(info["classpath"], work, ["sql", path], os.path.join(work, "sql.log"), 120)
    with open(path) as f:
        return json.load(f)


def run_jvm(cp, work, args, log, timeout):
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark's shuffle and spill files stay inside the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # on timeout or on a signal to this process, the JVM goes too
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"JVM exited with {rc}")


def cached_json(path, compute):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    with open(path, "w") as f:
        json.dump(value, f)
    return value


def cpu_jiffies():
    """(steal, total) CPU time of the whole machine so far, from
    /proc/stat; (0, 0) where it cannot be read."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def git_commit(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                             capture_output=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except OSError:
        return None


def check_passes(expected, passes):
    """Check every part of every timed pass, and every query; returns
    (attempted, failed, problems)."""
    attempted = failed = 0
    problems = []
    for p in passes:
        for part in p["parts"]:
            name = part["name"]
            where = f"pass {p['i']} {name}"
            attempted += 1 + len(part.get("queries", []))
            if "error" in part:
                failed += 1 + len(part.get("queries", []))
                problems.append(f"{where}: {part['error']}")
                continue
            d = os.path.join(p["dir"], name)
            with open(os.path.join(d, "rows.jsonl")) as f:
                rows = [json.loads(ln) for ln in f if ln.strip()]
            if name == "tlq_sales":
                probs, bad_q = oracle.check_tlq(expected[name], d, rows)
                failed += bad_q + (1 if len(probs) > bad_q else 0)
            elif name == "faas_report":
                probs = oracle.check_faas(expected[name], d)
                failed += 1 if probs else 0
            else:
                probs = oracle.check_rows(expected[name], rows)
                failed += 1 if probs else 0
            problems += [f"{where}: {x}" for x in probs[:5]]
    return attempted, failed, problems


def percentile(values, q):
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def throughput_s(part):
    return part.get("throughput_s", part["wall_s"])


def end_to_end(res, rows):
    timed = [p for p in res["passes"] if not p["traced"]
             and not any("error" in part for part in p["parts"])]
    if not timed:
        fail("no pass completed")
    walls = [sum(throughput_s(part) for part in p["parts"]) for p in timed]
    # gated: process CPU time is not charged for time the host takes the
    # CPUs away (steal), which moves wall times by tens of percent
    m = {
        "setup_s": (statistics.median(res["session_s"]) + res["warmup_s"], "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in timed), "s"),
    }
    # reported, not gated: see README
    extra = {"records_per_s": sum(rows.values()) / statistics.median(walls),
             "pass_wall_s": statistics.median(p["wall_s"] for p in timed),
             "passes": len(timed), "peak_rss_mb": res["peak_rss_mb"]}
    if len(rows) > 1:
        # each part's own rate, to tell which pipeline moved
        extra["part_records_per_s"] = {name: n / statistics.median(
            throughput_s(part) for p in timed for part in p["parts"]
            if part["name"] == name) for name, n in rows.items()}
    lat = [q["ms"] for p in timed for part in p["parts"]
           for q in part.get("queries", []) if q["error"] is None]
    if lat:
        extra.update({"queries": len(lat), "query_p50_ms": statistics.median(lat)})
    if len(lat) >= 20:
        # the highest percentile with at least ten samples beyond it
        top = int(100 * (1 - 10 / len(lat)))
        extra[f"query_p{top}_ms"] = percentile(lat, top)
    return m, extra


def main():
    # SIGTERM unwinds like Ctrl-C, so child processes are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(root, "perfbench", "build.sbt"))):
        fail("run from the repository root: the library sources "
             "(build.sbt, src/main/scala/graft) are not here")
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    load1 = os.getloadavg()[0]
    wl = WORKLOADS[a.workload]

    info = build(root, work)
    inputs_dir = os.path.join(work, "inputs", f"{a.workload}-s{a.seed}")
    inputs, expected, parts = {}, {}, []
    gen_s = oracle_s = 0.0
    for name, size in wl["parts"].items():
        d = os.path.join(inputs_dir, name)
        t0 = time.time()
        inputs[name] = gen.generate(name, a.seed, size, d)
        gen_s += time.time() - t0
        t0 = time.time()
        opath = os.path.join(d, f"oracle-{gen.source_digest(gen, oracle)}.json")
        if name == "tlq_sales":
            expected[name] = cached_json(opath, lambda: oracle.tlq_oracle(d))
        elif name == "faas_report":
            expected[name] = cached_json(opath, lambda: oracle.faas_oracle(d))
        else:
            sql = library_sql(work, info)
            expected[name] = cached_json(opath, lambda: oracle.curation_oracle(d, sql))
        oracle_s += time.time() - t0
        part = {"name": name, "input": d, "rows": inputs[name]["rows"]}
        if name == "tlq_sales":
            part["queries_per_pass"] = QUERIES_PER_PASS
            with open(os.path.join(d, "queries.json")) as f:
                part["queries"] = json.load(f)
        elif name == "faas_report":
            part.update({"memory_settings": gen.MEMORY_SETTINGS,
                         "iterations": gen.ITERATIONS, "stages": len(gen.FUNCTIONS)})
        parts.append(part)

    out = os.path.join(work, "run", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    conf = {
        "workload": a.workload, "input": inputs_dir, "out": out,
        "scratch": work, "seconds": a.seconds, "trace": bool(a.trace),
        "cores": cores(), "setup_rounds": SETUP_ROUNDS,
        "warmup_passes": wl["warmup_passes"],
        # traced runs alternate untraced and traced passes
        "min_passes": wl["trace_passes"] if a.trace else wl["min_passes"],
        "parts": parts,
    }
    with open(os.path.join(out, "config.json"), "w") as f:
        json.dump(conf, f)
    steal0, total0 = cpu_jiffies()
    run_jvm(info["classpath"], work, ["run", os.path.join(out, "config.json")],
            os.path.join(out, "jvm.log"), a.seconds + JVM_GRACE_S)
    steal1, total1 = cpu_jiffies()
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    attempted, failed, problems = check_passes(expected, res["passes"])
    e2e, extra = end_to_end(res, {name: i["rows"] for name, i in inputs.items()})
    per_layer = layers.per_layer(res) if a.trace else {}
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace,
        "env": dict(res["env"], nproc=cores(), load1_at_start=load1,
                    host_steal_share=(steal1 - steal0) / max(1, total1 - total0),
                    git_commit=git_commit(root), source_sha256=info["source"],
                    python=sys.version.split()[0]),
        "inputs": inputs, "generate_s": round(gen_s, 3),
        "oracle_s": round(oracle_s, 3),
        "attempted": attempted, "failed": failed,
        "failed_ratio": failed / attempted,
        "end_to_end": {k: v for k, (v, _) in e2e.items()}, "extra": extra,
        "session_s": res["session_s"], "warmup_s": res["warmup_s"],
        "per_layer": per_layer, "problems": problems[:20],
    }
    with open(os.path.join(out, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    for d in os.listdir(out):
        if d.startswith(("pass-", "warmup-")):
            shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    if a.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
