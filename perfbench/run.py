#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload stream_backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine and the benchmark harness
from source on first use (sbt, offline), starts the measuring JVMs, checks
their outputs, and prints one JSON line with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1) named in BENCHMARK.json.
Everything it writes stays under perfbench/ and is removed on exit, except
the build output in perfbench/target and perfbench/project/target.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

# query_suite is not in BENCHMARK.json (one run costs about a minute, more
# than the benchmark's time budget leaves); its layer is measured in the traced
# run of stream_trickle, and it can be run alone by hand.
WORKLOADS = ("stream_backfill", "stream_trickle", "query_suite")
BACKFILL_DOCS = 30000       # docs per backfill attempt (a multiple of 100)
TRICKLE_DOCS_PER_S = 200    # docs released per second in stream_trickle
# Untimed warm-up passes. The JIT keeps speeding the backfill up over its
# first five to eight passes (CPU per row falls by a fifth), the trickle's
# small batches settle sooner. The single-core baseline gets one: it is not
# gated, and more would double the traced run.
WARM_PASSES = 5
WARM_PASSES_TRICKLE = 3
# A traced backfill run (not gated) gets fewer, to leave time for the
# single-core JVM and the query layer.
WARM_PASSES_TRACED = 2
WARM_PASSES_1C = 1
HEAP = "2g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
# The query tables read by TokenEngine's token queries are cached by the
# engine itself under this prefix in /dev/shm (or java.io.tmpdir); the ones a
# run creates are removed with the run.
ENGINE_CACHE = "/dev/shm/graft-tokens-v1-*"

_children = []


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def sources_stamp():
    """Fingerprint of everything the harness classpath is compiled from."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt")])
    for f in files:
        st = os.stat(f)
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the engine and the harness (once per source state); returns
    the JVM classpath and whether this call compiled."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources at src/main/scala; run from the repository root")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    stamp = sources_stamp()
    built = not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp)
    if built:
        log("building (sbt compile)")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        opts = env.get("SBT_OPTS", "")
        if "sbt.offline" not in opts:
            repos = os.path.expanduser("~/.sbt/repositories")
            opts += (" -Dsbt.offline=true -Dsbt.override.build.repos=true"
                     f" -Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = opts.strip()
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
        if r.returncode != 0:
            raise SystemExit(f"perfbench: build failed (sbt exit {r.returncode})")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return f"{classes}:{spark_jars()}/*", built


def jvm(cp, work, mode, cpus, args, deadline):
    """Run one measuring JVM; returns its result object."""
    out = os.path.join(work, f"{mode}-{cpus}.json")
    jwork = os.path.join(work, f"{mode}-{cpus}")
    os.makedirs(os.path.join(jwork, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={jwork}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", mode, "--cpus", str(cpus),
              "--work", jwork, "--out", out] + [str(a) for a in args])
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    _children.append(p)
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit(f"perfbench: {mode} JVM ran out of time")
    finally:
        _children.remove(p)
    if rc != 0:
        raise SystemExit(f"perfbench: {mode} JVM failed (exit {rc})")
    with open(out) as f:
        return json.load(f)


def p99(xs):
    """The 99th percentile, which needs ten samples beyond it."""
    if stats.tail_percentile(len(xs)) is None or stats.tail_percentile(len(xs)) < 99:
        raise SystemExit(f"perfbench: {len(xs)} latency samples are too few for a p99")
    return stats.percentile(xs, 99)


def latency_samples(pairs):
    """Weighted [commit_ms, due_ms, n] triples to a flat list of seconds."""
    out = []
    for commit, due, n in pairs:
        out += [stats.latency_s(commit, due)] * n
    return out


def sink_layer(res):
    append = res["samples.sink.append_ms"]
    commit = stats.commit_ms(append, res["samples.sink.job_ms"])
    m = {"sink.append_ms_p50": stats.percentile(append, 50),
         "sink.append_ms_p99": stats.percentile(append, 99),
         "sink.commit_ms_p50": stats.percentile(commit, 50),
         "sink.commit_ms_p99": stats.percentile(commit, 99)}
    if len(commit) >= 10:
        m["sink.commit_ms_growth"] = stats.growth(commit)
    trig = res["samples.batch.trigger_ms"]
    m["batch.trigger_ms_p50"] = stats.percentile(trig, 50)
    m["batch.trigger_ms_p99"] = stats.percentile(trig, 99)
    return m


def wall_metrics(rows_per_s, lat):
    """Wall-clock figures: printed on stderr by every run, reported as
    per-layer metrics by traced runs (they spread too much on a shared box
    to be gated; see README.md)."""
    m = {"rows_per_s": rows_per_s,
         "latency_p50_s": stats.percentile(lat, 50),
         "latency_p99_s": p99(lat)}
    log("wall: " + ", ".join(f"{k} {v:.4g}" for k, v in m.items()))
    return m


def reads_layer(res):
    reads = res["samples.sink.read_ms"]
    return {"sink.read_p50_ms": stats.percentile(reads, 50),
            "sink.read_p90_ms": stats.percentile(reads, 90),
            "sink.snapshots_ms": stats.median(res["samples.sink.snapshots_ms"])}


def pipeline_layer(cp, work, a, nproc, deadline, res, corpus):
    """Figures of whole AvailableNow passes over a staged corpus: the
    local[nproc] rate of the untraced attempts in `res` against the same
    corpus at local[1] in a second JVM, and the tracing overhead (traced
    over untraced attempts' median wall, minus 1)."""
    one = jvm(cp, work, "backfill", 1,
              ["--seed", a.seed, "--seconds", 0, "--trace", 0,
               "--warm", WARM_PASSES_1C, "--input", corpus], deadline)
    rate = stats.median([x["rows"] / x["wall_s"] for x in res["attempts"]])
    rate_1c = stats.median([x["rows"] / x["wall_s"] for x in one["attempts"]])
    m = {"rows_per_s_1c": rate_1c,
         "scaling_eff_1to4": rate / (nproc * rate_1c),
         "trace_overhead_frac": (stats.median([x["wall_s"] for x in res["traced_attempts"]])
                                 / stats.median([x["wall_s"] for x in res["attempts"]]) - 1.0)}
    return m, one


def query_tables(a, work):
    """Writes the seed's query tables; returns their directory and table set."""
    import gen_tables
    variant = a.seed % gen_tables.VARIANTS
    # TokenEngine reads the scale factor from the directory name
    tables = os.path.join(work, "tables-sf0.001")
    gen_tables.write(variant, tables)
    return tables, variant


def stream_backfill(cp, work, a, nproc, deadline):
    args = ["--seed", a.seed, "--seconds", a.seconds, "--trace", a.trace, "--docs", BACKFILL_DOCS,
            "--warm", WARM_PASSES_TRACED if a.trace else WARM_PASSES]
    if a.trace:
        # the query layer runs in the same JVM, after the stream
        tables, variant = query_tables(a, work)
        args += ["--queries", tables]
    res = jvm(cp, work, "backfill", nproc, args, deadline)
    rates = [x["rows"] / x["wall_s"] for x in res["attempts"]]
    cpu = [x["cpu_ms"] / x["rows"] * 1000 for x in res["attempts"]]
    log(f"attempt rows/s {[round(r) for r in rates]}, cpu ms/krow {[round(c, 1) for c in cpu]}, "
        f"steal {res['steal_frac']:.3f}")
    wall = wall_metrics(stats.median(rates),
                        latency_samples([t for x in res["attempts"] for t in x["latency"]]))
    if not a.trace:
        return {"cpu_ms_per_krow": stats.median(cpu)}, [res]
    m = dict(res["layers"], **res["micro"], **sink_layer(res), **reads_layer(res), **wall)
    # the single-core baseline, over the corpus staged above
    p, one = pipeline_layer(cp, work, a, nproc, deadline, res,
                            os.path.join(work, f"backfill-{nproc}", "input"))
    m.update(p, **query_metrics(a, res, variant))
    return m, [res, one]


def stream_trickle(cp, work, a, nproc, deadline):
    docs = int(TRICKLE_DOCS_PER_S * a.seconds)
    args = ["--seed", a.seed, "--seconds", a.seconds, "--trace", a.trace, "--docs", docs,
            "--warm", WARM_PASSES_TRICKLE]
    if a.trace:
        tables, variant = query_tables(a, work)
        args += ["--queries", tables]
    res = jvm(cp, work, "trickle", nproc, args, deadline)
    cpu = res["cpu_ms"] / res["rows"] * 1000
    log(f"cpu ms/krow {cpu:.1f}, steal {res['steal_frac']:.3f}, "
        f"release lateness max {res['gen_late_ms_max']:.0f} ms")
    lat = [stats.latency_s(c, d, res["delay_ms"], res["gap_ms"]) for c, d in res["doc_commits"]]
    wall = wall_metrics(res["rows"] / ((res["last_commit_ms"] - res["t0_ms"]) / 1000.0), lat)
    if not a.trace:
        return {"cpu_ms_per_krow": cpu}, [res]
    m = dict(res["layers"], **res["micro"], **sink_layer(res), **reads_layer(res), **wall)
    # whole-pipeline figures over the warm-up corpus (see Trickle.scala)
    p, one = pipeline_layer(cp, work, a, nproc, deadline, res,
                            os.path.join(work, f"trickle-{nproc}", "warm"))
    m.update(p, **query_metrics(a, res, variant))
    return m, [res, one]


def query_suite(cp, work, a, nproc, deadline):
    """One warm, checked pass, then measured passes for --seconds."""
    t0 = time.monotonic()
    tables, variant = query_tables(a, work)
    gen_s = time.monotonic() - t0
    res = jvm(cp, work, "queries", nproc,
              ["--seed", a.seed, "--seconds", a.seconds, "--trace", a.trace, "--input", tables],
              deadline)
    res["setup_s"] += gen_s
    m = query_metrics(a, res, variant)
    if a.trace:
        m.update({k: v for k, v in res["query_layers"].items() if k not in m})
    return m, [res]


def query_metrics(a, res, variant):
    """Checks a JVM's query results against the recorded row counts and
    digests of its table set (counting each query as one operation) and
    returns the query layer's metrics: per-query seconds (median over the
    measured passes), their sum, and with tracing the job and stage counts."""
    with open(os.path.join(HERE, "expected_queries.json")) as f:
        want = json.load(f).get(str(variant), {})
    for q in res["queries"]:
        res["attempted"] += 1
        got = [q["rows"], q["digest"]]
        bad = []
        if not a.record and want.get(q["name"]) != got:
            bad.append(f"rows/digest {got} != recorded {want.get(q['name'])}")
        if any(r != q["rows"] for r in q["measured_rows"]):
            bad.append(f"measured rows {q['measured_rows']} != {q['rows']}")
        if bad:
            res["failed"] += 1
            res["failures"].append(f"query {q['name']}: {'; '.join(bad)}")
    secs = {q["name"]: stats.median(q["secs"]) for q in res["queries"]}
    m = {f"query.{n}_s": t for n, t in secs.items()}
    m["query.total_s"] = sum(secs.values())
    if a.trace:
        m.update({k: v for k, v in res["query_layers"].items() if k.startswith("query.")})
    return m


def record_expected(a, results):
    """Store this run's query row counts and digests as the recorded values
    of its table variant (after a change that is meant to alter results)."""
    import gen_tables
    path = os.path.join(HERE, "expected_queries.json")
    expected = json.load(open(path)) if os.path.exists(path) else {}
    expected[str(a.seed % gen_tables.VARIANTS)] = {
        q["name"]: [q["rows"], q["digest"]] for q in results[0]["queries"]}
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="query_suite: record row counts and digests instead of checking them")
    a = ap.parse_args()
    if a.record and a.workload != "query_suite":
        ap.error("--record applies to query_suite only")
    start = time.monotonic()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cp, built = build()
    # the first run in a checkout may take 900 s, because it builds
    deadline = start + (880 if built else JVM_TIMEOUT_S)
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, f".work-{os.getpid()}")
    caches_before = set(glob.glob(ENGINE_CACHE))

    def cleanup(*_):
        for p in list(_children):
            p.kill()
            p.wait()
        shutil.rmtree(work, ignore_errors=True)
        for d in set(glob.glob(ENGINE_CACHE)) - caches_before:
            shutil.rmtree(d, ignore_errors=True)

    def on_signal(signum, _frame):
        cleanup()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        os.makedirs(work)
        run = {"stream_backfill": stream_backfill, "stream_trickle": stream_trickle,
               "query_suite": query_suite}[a.workload]
        m, results = run(cp, work, a, nproc, deadline)
        if a.record:
            record_expected(a, results)
    finally:
        cleanup()

    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    for r in results:
        for f in r["failures"]:
            log(f"FAIL {f}")
    if not a.trace:
        m["setup_s"] = stats.median([r["setup_s"] for r in results])
        m["peak_rss_mb"] = max(r["peak_rss_mb"] for r in results)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        # a workload run by hand: whatever it measured, by name
        wanted = [x for x in spec["end_to_end"] + spec["per_layer"] if x["name"] in m]
    # every workload of BENCHMARK.json reports every metric of its kind
    missing = [x["name"] for x in wanted if x["name"] not in m]
    if missing:
        raise SystemExit(f"perfbench: metrics not measured: {missing}")
    bad = [x["name"] for x in wanted
           if not isinstance(m[x["name"]], (int, float)) or not math.isfinite(m[x["name"]])]
    if bad:
        raise SystemExit(f"perfbench: metrics without a finite value: {bad}")
    log(f"failed_frac {stats.failed_frac(failed, attempted):.6f} ({failed} of {attempted})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {x["name"]: {"value": m[x["name"]], "unit": x["unit"]} for x in wanted}}))


if __name__ == "__main__":
    main()
