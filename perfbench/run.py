#!/usr/bin/env python3
"""End-to-end benchmark of the Nessus ETL engine: ingest, calls and ops.

One run:
    python3 perfbench/run.py --workload ingest|calls|ops --seed N \
        --seconds S --trace 0|1

builds the engine and this harness from source and prepares the build
(both once per source state), makes the inputs, runs the JVM side
(perfbench.Main) and prints its result JSON as the last stdout line. The exit code is 0 only if every correctness
check passed.

Every metric with its unit, the correctness verdicts and the tracing
overhead, for all workloads:
    python3 perfbench/run.py --all [--seed N] [--seconds S]

Re-pin the reference digests (after a deliberate change of the inputs):
    python3 perfbench/run.py --pin

Run from the repository root. Everything the benchmark writes stays in the
checkout: sbt's target dirs, .bench_data (inputs) and .bench_run (one
scratch dir per run, deleted at exit).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "calls", "ops")
HEAP = "3g"
RUN_TIMEOUT_S = 170

sys.path.insert(0, HERE)
import gen_inputs  # noqa: E402


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the engine's and the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """sbt-build engine + harness unless the sources are unchanged since the
    last build; returns (classpath, engine JVM options)."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(HERE, "target", "launch.stamp")
    if not (os.path.exists(launch) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        env = dict(os.environ, COURSIER_MODE="offline")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            die(f"sbt build failed ({r.returncode})", 1)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


def inputs():
    """The fixed source tables (a function of gen_inputs.TABLE_SEED)."""
    d = os.path.join(ROOT, ".bench_data", f"tables-{gen_inputs.TABLE_SEED}-v{gen_inputs.VERSION}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen_inputs.generate(d)
    return d


def archive_path():
    stamp = open(os.path.join(HERE, "target", "launch.stamp")).read()[:16]
    return os.path.join(ROOT, ".bench_data", f"classes-{stamp}.jsa")


def prepare(cp, opts):
    """Once per build, in a JVM of its own: fill the Materialize cache
    (the synthesized source tables of `calls`), run each workload's first
    kind of operation, and write the loaded classes to a class-data
    archive at exit. Every measured run then starts from the same state:
    warm cache, mapped archive (~5 s less wall time per run)."""
    jsa = archive_path()
    if os.path.exists(jsa):
        return
    for old in glob.glob(os.path.join(ROOT, ".bench_data", "classes-*.jsa")):
        os.remove(old)
    code, _ = jvm(cp, opts + [f"-XX:ArchiveClassesAtExit={jsa}"],
                  ["--prepare", "1", "--data", inputs()], timeout=None)
    if code != 0 or not os.path.exists(jsa):
        die(f"preparing the build failed ({code})", 1)


def jvm(classpath, opts, main_args, timeout=RUN_TIMEOUT_S):
    """Run perfbench.Main in a fresh scratch dir; returns (exit code, stdout).
    The JVM is always stopped and waited for, whatever ends this process."""
    work = os.path.join(ROOT, ".bench_run", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # the Materialize cache (synthesized warehouse tables) is input, kept
    # warm across runs (see prepare)
    env = dict(os.environ, GRAFT_CACHE_DIR=os.path.join(ROOT, ".bench_data", "matcache"))
    archive = [f"-XX:SharedArchiveFile={archive_path()}"] if os.path.exists(archive_path()) else []
    cmd = (["java"] + opts + archive + ["-Xlog:disable", "-Xlog:all=warning:stderr"] +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
            "perfbench.Main", "--work", work] + main_args)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, env=env, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        die(f"JVM exceeded {timeout} s", 1)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return [m["name"] for m in b["end_to_end"]], [m["name"] for m in b["per_layer"]]


def one_run(cp, opts, workload, seed, seconds, trace):
    code, out = jvm(cp, opts, ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                               "--trace", str(trace), "--data", inputs(),
                               "--pinned", os.path.join(HERE, "pinned.json")])
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        die(f"no result from the JVM (exit {code})", code or 1)
    result = json.loads(lines[-1])
    e2e, layers = declared()
    want = set(layers if trace else e2e)
    if set(result["metrics"]) != want:
        print(f"[perfbench] metric names differ from BENCHMARK.json: "
              f"missing {sorted(want - set(result['metrics']))}, "
              f"extra {sorted(set(result['metrics']) - want)}", file=sys.stderr)
        code = code or 1
    return code, lines[-1], result


def report_all(cp, opts, seed, seconds):
    """Each workload untraced, then traced: every metric with its unit, the
    correctness verdicts, and the tracing overhead (the traced run repeats
    the named workload exactly, so its cycle time minus cycle_s is it)."""
    traced_cycle = {"ingest": "ingest.cycle_s", "calls": "calls.round_s", "ops": "ops.pass_s"}
    worst = 0
    for w in WORKLOADS:
        cycle = None
        for trace in (0, 1):
            code, _, r = one_run(cp, opts, w, seed, seconds, trace)
            worst = worst or code
            print(f"== {w} trace={trace}: correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']} exit={code}")
            for k, m in r["metrics"].items():
                print(f"   {k:<44} {m['value']:>16.6g} {m['unit']}")
            if trace == 0:
                cycle = r["metrics"]["cycle_s"]["value"]
            else:
                d = r["metrics"][traced_cycle[w]]["value"] - cycle
                print(f"== {w} tracing overhead: {traced_cycle[w]} - cycle_s = {d:+.4f} s ({d / cycle:+.1%})")
    return worst


def main():
    # a kill of this process still stops the JVM (see jvm's finally)
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("engine sources not found: run from the root of a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt are required")
    cp, opts = build()
    prepare(cp, opts)

    if a.pin:
        code, _ = jvm(cp, opts, ["--pin", os.path.join(HERE, "pinned.json"), "--data", inputs()],
                      timeout=None)
        sys.exit(code)
    if a.all:
        sys.exit(report_all(cp, opts, a.seed, a.seconds))
    if a.workload is None:
        die("--workload, --all or --pin is required")
    code, line, _ = one_run(cp, opts, a.workload, a.seed, a.seconds, a.trace)
    print(line)
    sys.exit(code)


if __name__ == "__main__":
    main()
