#!/usr/bin/env python3
"""The repository benchmark: cold dump, incremental changelog stream and
query leaves of the graft quad-log engine, on a local[4] Spark session.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source on first use
(perfbench/build.py), runs the workload in fresh JVMs (perfbench/scala) and
prints, as its last stdout line, one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1). perfbench/NOTES.md describes every metric.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

CORES = 4
HEAP = "3g"
JVM_TIMEOUT_S = 170
# the sf0.01 tables of TESTDATA.md
SF_DIR = os.environ.get("GRAFT_BENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.01"))
FINGERPRINTS = os.path.join(HERE, "fingerprints.tsv")

MANIFEST = os.path.join(ROOT, "BENCHMARK.json")

# The JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


class Run:
    """One benchmark invocation: its work directory and its JVMs."""

    def __init__(self, workload, seed, trace):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.classes = build.build(quiet=True)
        self.work = os.path.join(ROOT, ".bench_build", "work",
                                 f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.n = 0

    def jvm(self, role, cores=CORES, trace=False, **kw):
        self.n += 1
        work = os.path.join(self.work, f"{self.n:02d}-{role}")
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        out = os.path.join(work, "result.json")
        # a fixed heap: grown on demand, its size (and so the peak RSS) varied
        # by a quarter between runs. The JVM sees `cores` processors, so its
        # GC, JIT and common pools match the local[cores] session.
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-XX:ActiveProcessorCount={cores}",
               f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.sql.warehouse.dir={work}/warehouse",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", self.classes + os.pathsep + build.classpath(), "graftbench.Main",
                "--role", role, "--work", work, "--out", out, "--cores", str(cores),
                "--trace", "1" if trace else "0", "--run", f"{self.workload}-s{self.seed}"]
        for k, v in kw.items():
            cmd += ["--" + k.replace("_", "-"), str(v)]
        t0 = time.time()
        cmd += ["--launched", repr(t0 * 1000.0)]
        # Spark's spill directory: SPARK_LOCAL_DIRS overrides the tmpfs
        # spark.local.dir of Bench.mkSession, so every file stays in the run's
        # work directory
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        with open(os.path.join(work, "jvm.log"), "w") as logf:
            p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=logf, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:
                # never leave the JVM behind: timeout, error or signal
                if p.poll() is None:
                    p.kill()
                    p.wait()
        if rc != 0 or not os.path.exists(out):
            tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-4000:]
            raise SystemExit(f"perfbench: {role} JVM failed ({rc}):\n{tail}")
        with open(out) as fh:
            res = json.load(fh)
        res["work"] = work
        brief = {k: v for k, v in res.items() if isinstance(v, (int, float))}
        log(f"{role} JVM {time.time() - t0:.1f}s: {json.dumps(brief)}")
        for f in res.get("ops", {}).get("failures", []):
            log(f"FAILED {f}")
        return res

    def keep_trace(self, res, extra):
        """Copies the traced JVM's spans (one JSON object a line) and writes
        its attribution summary, both to .bench_build/traces."""
        tdir = os.path.join(ROOT, ".bench_build", "traces")
        os.makedirs(tdir, exist_ok=True)
        stem = os.path.join(tdir, f"{self.workload}_seed{self.seed}")
        shutil.copyfile(res["trace"]["spans_file"], stem + "_spans.jsonl")
        summary = dict(extra)
        summary.update({k: v for k, v in res["trace"].items() if k != "spans_file"})
        with open(stem + "_attribution.json", "w") as fh:
            json.dump(summary, fh, indent=1, sort_keys=True)
        log(f"spans: {stem}_spans.jsonl; attribution: {stem}_attribution.json")

    def close(self):
        shutil.rmtree(self.work, ignore_errors=True)


def med(xs):
    return statistics.median(xs)


def ops_of(results):
    att = sum(r["ops"]["attempted"] for r in results)
    fail = sum(r["ops"]["failed"] for r in results)
    return att, fail


# --- workloads -------------------------------------------------------------

def stream_jvm(run, trace=False, cores=CORES, **kw):
    return run.jvm("stream", cores=cores, trace=trace, seed=run.seed, **kw)


def stream_figures(r):
    """The pipeline's own figures of one stream JVM (per-layer metrics)."""
    return {
        "dump_quads_per_s": r["quads"] / r["bootstrap_s"],
        "first_batch_s": r["batch_s"],
        "state_bytes_per_quad": r["state_bytes"] / r["live_quads"],
    }


def incremental_stream(run, seconds, corrupt):
    """Fresh JVMs until `seconds` have passed (at least one), each: set-up,
    then the cold dump of the base snapshot and its publish, then one
    incremental batch followed by publish. `measured_s` is the wall time of
    those four calls."""
    t0 = time.time()
    rounds = []
    while not rounds or time.time() - t0 < seconds:
        rounds.append(stream_jvm(run, corrupt=int(corrupt)))
        log(f"stream figures: {json.dumps(stream_figures(rounds[-1]))}")
    metrics = {
        "setup_s": med([r["setup_s"] for r in rounds]),
        "rss_peak_mb": med([r["rss_peak_mb"] for r in rounds]),
        "measured_s": med([r["bootstrap_s"] + r["publish_s"] + r["batch_s"] for r in rounds]),
    }
    return metrics, rounds


def incremental_stream_traced(run):
    """One traced JVM, plus a single-core JVM that repeats only the dump,
    for the scaling efficiency t1 / (4 * t4) of the cold bootstrap."""
    traced = stream_jvm(run, trace=True)
    single = stream_jvm(run, trace=True, cores=1, measure_only=1)
    layers = dict(traced["layers"])
    layers.update(stream_figures(traced))
    layers["spark.scaling_eff"] = single["bootstrap_s"] / (CORES * traced["bootstrap_s"])
    run.keep_trace(traced, {"single_core": {"bootstrap_s": single["bootstrap_s"],
                                            "bootstrap_s_4_cores": traced["bootstrap_s"],
                                            "modules": single["modules"]}})
    return layers, [traced]


def query_args(run, seconds):
    if not os.path.isdir(SF_DIR):
        raise SystemExit(f"perfbench: query tables not found at {SF_DIR}")
    return dict(seed=run.seed, sf=SF_DIR, fingerprints=FINGERPRINTS, seconds=seconds)


def query_leaves(run, seconds):
    """One JVM: an untimed warm pass checks every leaf's output against its
    oracle fingerprint, an untimed warm-up pass follows, then timed passes
    over the 16 leaves (order
    permuted by the seed) until `seconds` have passed. `measured_s` is the
    sum of the per-leaf medians."""
    r = run.jvm("query", **query_args(run, seconds))
    log(f"pass wall times: {r['pass_s']}; leaf medians: {json.dumps(r['leaf_s'], sort_keys=True)}")
    metrics = {
        "setup_s": r["setup_s"],
        "rss_peak_mb": r["rss_peak_mb"],
        "measured_s": sum(r["leaf_s"].values()),
    }
    return metrics, [r]


def query_leaves_traced(run):
    traced = run.jvm("query", trace=True, **query_args(run, 0))
    run.keep_trace(traced, {})
    return dict(traced["layers"]), [traced]


WORKLOADS = {
    "incremental_stream": (lambda run, a: incremental_stream(run, a.seconds, a.corrupt_patch_line),
                           incremental_stream_traced),
    "query_leaves": (lambda run, a: query_leaves(run, a.seconds), query_leaves_traced),
}


def main():
    # a termination signal unwinds like an error, so the running JVM is
    # stopped and the work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-patch-line", action="store_true",
                    help="self-test: check a copy of the dump's patches with one line altered")
    a = ap.parse_args()
    with open(MANIFEST) as fh:
        manifest = json.load(fh)
    run = Run(a.workload, a.seed, a.trace == 1)
    try:
        untraced, traced = WORKLOADS[a.workload]
        values, results = traced(run) if a.trace else untraced(run, a)
        attempted, failed = ops_of([r for r in results if "ops" in r])
    finally:
        run.close()
    # every workload reports every metric of the manifest. A per-layer
    # metric of a layer this workload does not exercise reads 0 (NOTES.md
    # lists them); an end-to-end metric is never missing.
    declared = manifest["per_layer" if a.trace else "end_to_end"]
    idle = [m["name"] for m in declared if m["name"] not in values]
    if idle and not a.trace:
        raise SystemExit(f"perfbench: end-to-end metrics not measured: {idle}")
    if idle:
        log(f"{len(idle)} per-layer metrics idle on {a.workload} (read 0): {' '.join(idle)}")
    metrics = {m["name"]: (values.get(m["name"], 0.0), m["unit"]) for m in declared}
    for k, (v, u) in metrics.items():
        log(f"{k:36s} {v:14.6f} {u}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
