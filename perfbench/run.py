#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload ra_doors --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program from
source with sbt (perfbench/build.sbt compiles ../src/main together with
the driver in perfbench/src); later runs reuse the build while the
sources are unchanged. The run generates its inputs from --seed under
perfbench/.work, starts one JVM with `local[nproc]`, sets up, measures
for --seconds in a closed loop of one client, checks every output and
prints one metric per line followed by the result as one JSON line.
The full result (run context, every operation, per-layer figures) is
written to perfbench/.work/results/. `--trace 1` records spans and
listener counters and reports the per-layer metrics instead of the
end-to-end ones. Exit status is non-zero when any output is wrong.
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
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ["ra_doors", "contract_store_stream"]
SETUP_ROUNDS = 3
JVM_LIMIT_S = 160
# Contract queries in matched pairs of one family and a similar cost at
# sf0.1 on 4 cores; contract_store_stream runs one query of each pair.
PAIRS_FILE = os.path.join(HERE, "contract_pairs.json")
END_TO_END = [("latency_p50_ms", "ms"), ("latency_tail_ms", "ms"),
              ("ops_per_s", "1/s"), ("cpu_s_per_op", "s"),
              ("peak_rss_mb", "MB"), ("setup_s", "s")]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build compiles, so a changed source
    triggers a rebuild and a result names the code it measured."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(digest):
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = os.path.join(HERE, "target", "perfbench-build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("digest") == digest:
            return s["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp}, fh)
    return cp


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def prepare(workload, seed, run_dir):
    """Generate the seeded inputs; return (data dir, plan)."""
    data = os.path.join(run_dir, "data")
    if workload == "ra_doors":
        gen.write_tables(data, 0.01, seed, gen.TPCH)
        return data, gen.plan(workload, seed)
    gen.write_tables(data, 0.1, seed)
    gen.write_stream_inputs(data, seed)
    with open(PAIRS_FILE) as fh:
        pairs = json.load(fh)["pairs"]
    return data, gen.plan(workload, seed, pairs)


def run_jvm(classpath, job_path, run_dir, log_path, budget_s):
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=tmp)
    # Repeated runs of one seed read CPU per operation up to 45% apart
    # under G1 and within 5% under the parallel collector.
    cmd = (["java", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn512m",
            "-Xss4m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK_OPENS
              for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", job_path])
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    shutil.copy(log_path, os.path.join(WORK, "jvm-last.log"))
    if rc != 0:
        with open(log_path) as fh:
            errs = [ln for ln in fh if "Exception" in ln or "Error" in ln]
        sys.stderr.write("".join(errs[:20]))
        fail(f"JVM exited with {rc}; log in {WORK}/jvm-last.log")


def pct(values, q):
    """Linear-interpolated percentile q (0-100) of a non-empty list."""
    v = sorted(values)
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def tail_pct(n):
    """The highest percentile, at most 90, that keeps at least ten of n
    samples beyond it (0 when n <= 10: the tail is then the minimum)."""
    return max(0.0, min(90.0, 100.0 * (1 - 10.0 / n)))


def end_to_end(res):
    ms = [o["ms"] for o in res["ops"]]
    n = len(ms)
    return {
        "latency_p50_ms": pct(ms, 50),
        "latency_tail_ms": pct(ms, tail_pct(n)),
        "ops_per_s": n / res["busy_s"],
        "cpu_s_per_op": res["cpu_s"] / n,
        "peak_rss_mb": res["peak_rss_mb"],
        "setup_s": statistics.median(res["setup_rounds_s"]) + res["warmup_s"],
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant-wrong", action="store_true",
                    help="report one wrong answer (tests the checks)")
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources under {ROOT}/src/main/scala")
    import check  # reads tools/check_oracle.py of the checkout

    load_avg = os.getloadavg()[0]
    digest = source_digest()
    classpath = build(digest)
    t_start = time.time()
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data, plan = prepare(a.workload, a.seed, run_dir)
        job = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
               "trace": a.trace, "setup_rounds": SETUP_ROUNDS,
               "plant_wrong": a.plant_wrong, "plan": plan, "data_dir": data,
               "work_dir": run_dir,
               "out": os.path.join(run_dir, "result.json"),
               "spans": os.path.join(run_dir, "spans.jsonl")}
        job_path = os.path.join(run_dir, "job.json")
        with open(job_path, "w") as fh:
            json.dump(job, fh)
        budget = JVM_LIMIT_S - (time.time() - t_start)
        run_jvm(classpath, job_path, run_dir,
                os.path.join(run_dir, "jvm.log"), budget)
        with open(job["out"]) as fh:
            res = json.load(fh)
        wrong = check.outputs(a.workload, plan, data, res, run_dir)
        for o in res["ops"]:
            if o["ok"] and o["key"] in wrong:
                o["ok"], o["err"] = False, wrong[o["key"]]
        spans = []
        if a.trace:
            with open(job["spans"]) as fh:
                spans = [json.loads(line) for line in fh if line.strip()]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if not o["ok"])
    if a.trace:
        import layers
        metrics = layers.per_layer(res, spans)
        units = dict(layers.UNITS)
    else:
        metrics = end_to_end(res)
        units = dict(END_TO_END)
    context = dict(res["context"], seed=a.seed, workload=a.workload,
                   seconds=a.seconds, trace=a.trace, git_commit=git_commit(),
                   source_digest=digest, load_avg_1m=load_avg,
                   setup_rounds=SETUP_ROUNDS, session_s=res["session_s"],
                   passes=res["passes"], warmups=res["warmups"],
                   samples=attempted,
                   tail_percentile=tail_pct(attempted))
    full = {"context": context, "attempted": attempted, "failed": failed,
            "failed_frac": failed / max(1, attempted),
            "metrics": metrics, "setup_rounds_s": res["setup_rounds_s"],
            "warmup_s": res["warmup_s"], "wall_s": res["wall_s"],
            "busy_s": res["busy_s"], "cpu_s": res["cpu_s"],
            "peak_rss_mb": res["peak_rss_mb"],
            "ops": res["ops"], "extra": res["extra"]}
    if a.trace:
        full["self_ms"] = layers.self_times(spans)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(WORK, "results",
                       f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(out, "w") as fh:
        json.dump(full, fh, indent=1)

    print(f"# {a.workload} seed={a.seed} cpus={context['cpus']} "
          f"parallelism={context['default_parallelism']} "
          f"SPARK_GRAFT_CPUS={context['spark_graft_cpus']} "
          f"xmx_mb={context['xmx_mb']} load_avg={load_avg:.2f} "
          f"commit={context['git_commit'] or digest}")
    print(f"# samples={attempted} failed={failed} "
          f"failed_frac={full['failed_frac']:.4f} "
          f"tail=p{context['tail_percentile']:.1f}")
    for o in res["ops"]:
        if not o["ok"]:
            print(f"# FAILED op {o['id']} {o['kind']} {o['key']}: {o['err']}")
            break
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
