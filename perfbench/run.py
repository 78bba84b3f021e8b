#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload cdc --seed 7 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt into `.bench_build/`; later runs reuse the
build while the sources are unchanged. Each run generates its inputs from
the seed, runs one JVM (`perfbench.Harness`), checks the engine's outputs
against a DuckDB reference, prints the session settings and notes to
stdout, and ends with one JSON line: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics of BENCHMARK.json with `--trace 0`, the
per-layer ones with `--trace 1`). Everything it writes stays under
`.bench_build/` and `.bench_run/`; the run directory is removed at exit.
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
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

LIVE_RATE = 400          # offered CDC records/s in the live phase
LIVE_WARM = 400          # about this many stream records load with the customers
LOOKUP_RATE = 2          # point lookups/s beside the live writes
CATALOG_SF = 0.002       # scale of the catalog tables (sf0.1 = 600k lineitems)
CALIB_SF = 0.01          # lineitem size for the scan calibration probe
HEAP = "3g"
# the catalog queries where a count() hid the most work (full
# materialization vs count at sf0.1), plus the pipeline's batch twin and
# an index write
CATALOG_QUERIES = ["q_sketch_agg", "q_ksql_chr_instr", "q_ksql_json_funcs",
                   "sketch_kmv_sliding", "text_bpe_encode", "text_fingerprint",
                   "pipeline_shipped_orders", "sim_ivf_delete"]
JVM_TIMEOUT_S = 165

ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def source_stamp():
    h = hashlib.sha256()
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")]:
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness unless the build matches the sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("engine sources (src/main/scala) not found: run from a checkout root")
    stamp, cp = source_stamp(), os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    log("building engine and harness (sbt)")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0 or not os.path.exists(cp):
        sys.stderr.write(open(os.path.join(BUILD, "build.log")).read()[-4000:])
        raise SystemExit(f"build failed (sbt exit {rc})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp).read().strip()


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pct(xs, q):
    """Linear-interpolated percentile, q in [0, 1]."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def freshness(ref, endpoint, due_of):
    """Per expected order: first document arrival minus the due time of
    the later of its order record and its first in-band shipment (ms)."""
    out = []
    for oid, r in ref.items():
        dues = [d for d in (due_of("orders", r["o_off"]), due_of("shipments", r["first_s_off"]))
                if d is not None]
        if oid in endpoint and dues:
            out.append((endpoint[oid][1] - max(dues)) / 1e6)
    return out


def summarize(attempted, failed, values, metrics):
    """The result line: every metric named in `metrics`, a layer the
    workload does not exercise reading 0. `failed_frac` is failed ÷
    attempted operations; a run that attempted nothing has failed."""
    if attempted == 0:
        attempted = failed = 1
    values = dict(values, failed_frac=failed / attempted)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                                    "unit": m["unit"]} for m in metrics}}


def check_cdc(res, in_dir, out_dir, trace):
    """With --trace 1 both halves' outputs are checked; the per-layer
    freshness and lookup latencies come from the traced half."""
    if not trace:
        return check_cdc_outputs(res, in_dir, out_dir)
    a, f, notes, e2e, _ = check_cdc_outputs(res, in_dir, os.path.join(out_dir, "plain"))
    a2, f2, notes2, _, layer = check_cdc_outputs(res, in_dir, os.path.join(out_dir, "traced"))
    return a + a2, f + f2, notes + notes2, e2e, layer


def check_cdc_outputs(res, in_dir, out_dir):
    attempted = failed = 0
    notes = []

    def add(a, f, n):
        nonlocal attempted, failed
        attempted, failed = attempted + a, failed + f
        notes.extend(n)

    refs, endpoints = {}, {}
    for phase in ("live", "backfill"):
        ref = refs[phase] = cdc_reference(in_dir, phase)
        ep = endpoints[phase] = check.read_endpoint(os.path.join(out_dir, f"{phase}_endpoint.tsv"))
        add(*check.check_docs(ref, {o: d for o, (d, _) in ep.items()}, f"{phase} endpoint"))
        add(*check.check_docs(ref, check.read_sink(os.path.join(out_dir, f"{phase}_sink")),
                              f"{phase} sink"))
    a, f, n, lookups = check.check_lookups(os.path.join(out_dir, "lookups.tsv"),
                                           refs["live"], endpoints["live"])
    add(a, f, n)

    _, stream = check.read_records(os.path.join(in_dir, "records_live.tsv"))
    stream_idx = {key: i for i, key in enumerate(stream)}
    due = json.load(open(os.path.join(out_dir, "live_due.json")))

    def live_due(topic, off):
        # records loaded during set-up have no due time in the run
        i = stream_idx[(topic, off)] - due["warm"]
        return (i // due["per_tick"]) * due["tick_ns"] if i >= 0 else None
    fresh = freshness(refs["live"], endpoints["live"], live_due)
    hop_start = json.load(open(os.path.join(out_dir, "backfill_due.json")))
    backfill_fresh = freshness(refs["backfill"], endpoints["backfill"],
                               lambda topic, off: hop_start[topic])
    e2e = {"work_s": res["backfill"]["work_s"]}
    layer = {
        "egress.fresh_p50_ms": pct(fresh, 0.5),
        "egress.fresh_p90_ms": pct(fresh, 0.9),
        "egress.fresh_p99_ms": pct(fresh, 0.99),
        "egress.backfill_fresh_p50_ms": pct(backfill_fresh, 0.5),
        "lookup.p50_ms": pct(lookups, 0.5),
        "lookup.p90_ms": pct(lookups, 0.9),
        "lookup.p99_ms": pct(lookups, 0.99),
    }
    log(f"live: {len(refs['live'])} documents, {len(lookups)} lookups; "
        f"backfill: {len(refs['backfill'])} documents, {res['backfill']['records']} records")
    return attempted, failed, notes, e2e, layer


_refs = {}


def cdc_reference(in_dir, phase):
    key = (in_dir, phase)
    if key not in _refs:
        topics, _ = check.read_records(os.path.join(in_dir, f"records_{phase}.tsv"))
        _refs[key] = check.cdc_reference(topics)
    return _refs[key]


def check_catalog(res, in_dir, out_dir, trace):
    a, f, notes = check.check_catalog(os.path.join(in_dir, "sf"), os.path.join(out_dir, "catalog"),
                                      CATALOG_QUERIES, failed_in_timed_passes=res["failed_queries"])
    times = list(res["query_ms"].values())
    e2e = {"work_s": sum(times) / 1000.0}
    log(f"{len(res['passes'])} passes; per-query fastest ms: " +
        ", ".join(f"{q}={t:.0f}" for q, t in sorted(res["query_ms"].items())))
    layer = {"catalog.geomean_ms": statistics.geometric_mean(times) if times else 0.0}
    return a, f, notes, e2e, layer


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        raise SystemExit(f"unknown workload {args.workload}")

    cp = build()
    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    in_dir, out_dir, work_dir = (os.path.join(run_dir, d) for d in ("in", "out", "work"))
    for d in (in_dir, out_dir, os.path.join(work_dir, "tmp")):
        os.makedirs(d, exist_ok=True)
    try:
        t = time.time()
        # with --trace 1 the harness runs the workload twice for half the
        # time each (untraced, then traced); live input is sized per half
        live_s = args.seconds / 2 if args.trace else args.seconds
        live_warm = 0
        if args.workload == "cdc":
            gen.cdc_backfill(args.seed, in_dir)
            live_warm = gen.cdc_live(args.seed, in_dir, LIVE_RATE, live_s, LIVE_WARM)
            # the final document versions, so the harness can tell when the
            # pipeline has caught up
            for phase in ("live", "backfill"):
                with open(os.path.join(in_dir, f"expected_{phase}.tsv"), "w") as f:
                    for oid, r in cdc_reference(in_dir, phase).items():
                        f.write(f"{oid}\t{r['s_off']}\n")
        else:
            gen.tables(args.seed, os.path.join(in_dir, "sf"), CATALOG_SF)
        if args.trace:
            gen.tables(args.seed, os.path.join(in_dir, "calib"), CALIB_SF, only=["lineitem"])
        log(f"inputs generated in {time.time() - t:.1f} s")

        cmd = ["java", f"-Xmx{HEAP}", *ADD_OPENS,
               f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')}",
               "-cp", cp, "perfbench.Harness",
               "--workload", args.workload, "--in", in_dir, "--out", out_dir,
               "--work", work_dir, "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--cpus", str(cpus()),
               "--seed", str(args.seed), "--rate", str(LIVE_RATE), "--warm", str(live_warm),
               "--lookup-rate", str(LOOKUP_RATE), "--queries", ",".join(CATALOG_QUERIES)]
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work_dir, "spark-local"))
        jvm_log = os.path.join(run_dir, "jvm.log")
        with open(jvm_log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=work_dir, env=env, stdout=err,
                                    stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        result_path = os.path.join(out_dir, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            sys.stderr.write(open(jvm_log, errors="replace").read()[-6000:])
            raise SystemExit(f"harness failed ({rc})")
        log(f"harness done after {time.time() - t:.1f} s")
        res = json.load(open(result_path))
        log("settings " + json.dumps(res["settings"], sort_keys=True))
        log(f"session {res['session_s']:.2f} s, warm-up {res['warmup_s']:.2f} s, "
            f"{json.dumps({k: res[k] for k in ('live', 'backfill', 'passes') if k in res})}")

        checker = check_catalog if args.workload == "catalog_mix" else check_cdc
        attempted, failed, notes, e2e, layer = checker(res, in_dir, out_dir, args.trace)
        log(f"checked after {time.time() - t:.1f} s")
        for e in res["errors"]:
            notes.append(f"engine error: {e}")
        for n in notes[:10]:
            log(n)
        if args.trace:
            values = dict(res["layers"], **layer)
            spans = os.path.join(out_dir, "spans.jsonl")
            log(f"{sum(1 for _ in open(spans))} spans recorded")
        else:
            values = dict(e2e, setup_s=res["session_s"] + res["warmup_s"] + res["setup_extra_s"],
                          peak_heap_mb=res["peak_heap_mb"])
        metrics = bench["per_layer"] if args.trace else bench["end_to_end"]
        print(json.dumps(summarize(attempted, failed, values, metrics)), flush=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
