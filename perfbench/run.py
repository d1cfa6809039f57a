#!/usr/bin/env python3
"""Repository benchmark: one command for every workload.

    python3 perfbench/run.py --workload W --seed N --seconds T --trace 0|1

Run from the root of a checkout. The first run builds the program and
the harness (sbt, offline) and generates the input tables under
.bench_build/perfbench; later runs reuse both. One harness JVM runs the
workload with at most four Spark task threads; this script then checks
the outputs, prints every metric by name with its unit and sample
count, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and the tracing overhead against the untraced runs of the workload on
record, if any). Every run also writes a record
to .bench_build/perfbench/records for compare.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, BENCH)

WORKLOADS = ["batch_sf001", "batch_x10", "stream_window"]
# jars, not class directories, on the exported classpath: the JVM's
# class-data archive (see class_archive) needs them
SBT_CMD = ["sbt", "--batch", "-Dsbt.log.noformat=true", "set every exportJars := true",
           "export perfbench/Runtime/fullClasspath"]
HEAP = "3g"
X10_FACTOR = 10
# tables ScaleData copies unchanged; every other table grows K times
UNSCALED = {"region", "nation"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def sources_stamp():
    """Changes whenever a source or build file of the program or the
    harness changes, so a stale build is never measured."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    h.update(" ".join(SBT_CMD).encode())
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles program and harness; returns the runtime classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building program and harness with sbt (offline)")
    t0 = time.time()
    shutil.rmtree(os.path.join(WORK, "cds"), ignore_errors=True)
    p = subprocess.run(SBT_CMD, cwd=BENCH, env=sbt_env(), capture_output=True,
                       text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def java_cmd(cp, *args, cds=None):
    """The harness JVM. `cds` is a JVM flag that reads or writes the
    class-data archive (see class_archive)."""
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if cds:
        cmd.append(cds)
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main", *args]


def run_jvm(cmd, log_path, timeout, required=True):
    """Runs a harness JVM to completion; returns whether it succeeded.
    A required JVM that fails ends the benchmark with no result."""
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=WORK)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "a timeout"
    if code != 0 and required:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"harness exited with {code}; log at {log_path}")
    return code == 0


def class_archive(cp, base, cores):
    """A class-data archive of every class a run loads, written once per
    build by a short training run. Loading classes from it takes seconds
    off every run's JVM start, which keeps the benchmark inside its time
    budget; the training run is separate because writing an archive slows
    the run that writes it. Returns the JVM flag that reads it."""
    archive = os.path.join(WORK, "cds", "app.jsa")
    if not all(os.path.isfile(p) for p in cp.split(os.pathsep)):
        return None  # archives need a classpath of jars only
    if not (os.path.exists(archive) or os.path.exists(archive + ".none")):
        log("writing the class-data archive")
        train = os.path.join(WORK, "train")
        shutil.rmtree(train, ignore_errors=True)
        os.makedirs(train)
        os.makedirs(os.path.dirname(archive), exist_ok=True)
        run_jvm(java_cmd(cp, "--train", base, train, str(cores),
                         cds=f"-XX:ArchiveClassesAtExit={archive}"),
                os.path.join(train, "harness.log"), 600, required=False)
        shutil.rmtree(train, ignore_errors=True)
        # keep the archive only if the JVM can map it
        ok = os.path.exists(archive) and subprocess.run(
            ["java", "-Xshare:on", f"-XX:SharedArchiveFile={archive}", "-cp", cp,
             "-version"], capture_output=True).returncode == 0
        if not ok:
            log("no usable class-data archive; runs start without one")
            shutil.rmtree(os.path.dirname(archive), ignore_errors=True)
            os.makedirs(os.path.dirname(archive))
            open(archive + ".none", "w").close()
    if os.path.exists(archive + ".none"):
        return None
    return f"-XX:SharedArchiveFile={archive}"


def row_counts(d):
    import pyarrow.parquet as pq
    out = {}
    for name in sorted(os.listdir(d)):
        if name.endswith(".parquet"):
            p = os.path.join(d, name)
            files = [os.path.join(p, f) for f in os.listdir(p)
                     if f.endswith(".parquet")] if os.path.isdir(p) else [p]
            out[name[:-8]] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return out


def data(cp, workload):
    """Base tables (sf0.01 shape) and their x10 copy made by the program's
    graft.ScaleData, built once per checkout; returns the workload's."""
    base = os.path.join(WORK, "data", "base")
    if not os.path.exists(os.path.join(base, "_done")):
        shutil.rmtree(base, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(BENCH, "gen_data.py"), base], check=True)
        open(os.path.join(base, "_done"), "w").close()
    x10 = os.path.join(WORK, "data", "x10")
    if not os.path.exists(os.path.join(x10, "_done")):
        log("writing the x10 copy with graft.ScaleData")
        shutil.rmtree(x10, ignore_errors=True)
        run_jvm(java_cmd(cp, "--make-x10", base, x10),
                os.path.join(WORK, "make_x10.log"), 600)
        shutil.rmtree(x10 + ".tmp", ignore_errors=True)
        open(os.path.join(x10, "_done"), "w").close()
    if workload != "batch_x10":
        return base
    # input integrity before any timing: the copy holds exactly K times
    # the base rows of every scaled table
    want, got = row_counts(base), row_counts(x10)
    for t, n in want.items():
        k = 1 if t in UNSCALED else X10_FACTOR
        if got.get(t) != k * n:
            fail(f"x10 copy: {t} has {got.get(t)} rows, want {k} x {n}", 3)
    return x10


def median(xs):
    s = sorted(xs)
    n = len(s)
    return (s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2) if n else None


def overhead(rec):
    """This traced run's end-to-end metrics minus their medians over the
    recorded untraced runs of the workload."""
    rdir = os.path.join(WORK, "records")
    plain = []
    for f in os.listdir(rdir):
        with open(os.path.join(rdir, f)) as g:
            r = json.load(g)
        if r["workload"] == rec["workload"] and not r["trace"]:
            plain.append(r["result"]["e2e"])
    if not plain:
        return None
    return {k: {"traced": v, "untraced": median([p[k] for p in plain]),
                "delta": v - median([p[k] for p in plain]), "untraced_runs": len(plain)}
            for k, v in rec["result"]["e2e"].items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no program sources at {ROOT}: run from a full checkout")
    for d in ["tmp", "records"]:
        os.makedirs(os.path.join(WORK, d), exist_ok=True)

    cp = build()
    data_dir = data(cp, a.workload)
    cores = min(4, os.cpu_count() or 1)
    cds = class_archive(cp, os.path.join(WORK, "data", "base"), cores)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    run_jvm(java_cmd(cp, "--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--data", data_dir, "--work", run_dir, "--cores", str(cores),
                     cds=cds),
            os.path.join(run_dir, "harness.log"), 170)
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)

    failures = list(res["failures"])
    if res["kind"] == "batch":
        import check
        verdicts = check.run_checks(res["checks"], data_dir)
        failures += [f"{q}: {v}" for q, v in sorted(verdicts.items()) if v]
        failed = len(failures)
    else:
        failed = res["failed"]
    attempted = max(1, res["attempted"])

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    metrics = {k: {"value": v, "unit": units[k]}
               for k, v in (res["layers"] if a.trace else res["e2e"]).items()}
    rec = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
           "trace": bool(a.trace), "time": time.time(), "cores": cores,
           "heap": HEAP, "state_store": res["state_store"], "valid": res["valid"],
           "attempted": attempted, "failed": failed, "failures": failures,
           "result": res}
    name = f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time() * 1000)}.json"
    with open(os.path.join(WORK, "records", name), "w") as f:
        json.dump(rec, f)

    n = res["samples"]
    for k, m in sorted(res["e2e"].items()):
        count = n.get("latency" if k.startswith("latency") else k, "")
        extra = f" (p{res['latency_tail_pct']:g})" if k == "latency_tail_ms" else ""
        print(f"{a.workload} {k}{extra} = {m:.4f} {units[k]}  n={count}")
    print(f"{a.workload} failed_ratio = {failed / attempted:.4f} ({failed}/{attempted})")
    if "events_per_s" in res:
        print(f"{a.workload} events_per_s = {res['events_per_s']:.1f} 1/s "
              f"(open loop at {res['offered_rate']}/s on a {res['trigger_ms']} ms trigger, "
              f"source lag {res['source_lag_ms']:.1f} ms, valid={res['valid']})")
    print(f"{a.workload} seed={a.seed} cores={cores} heap={HEAP} "
          f"state_store={res['state_store']}")
    if a.trace:
        for k, v in sorted(res["self_ms"].items()):
            print(f"{a.workload} self_ms[{k}] = {v:.2f} ms")
        oh = overhead(rec)
        for k, v in sorted((oh or {}).items()):
            print(f"{a.workload} tracing_overhead {k} = {v['delta']:+.4f} "
                  f"(traced {v['traced']:.4f} vs untraced median {v['untraced']:.4f} "
                  f"of {v['untraced_runs']} runs)")
    for fl in failures[:20]:
        log(f"FAILED {fl}")
    if not res["valid"]:
        log("run invalid: the generator lagged its schedule")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
