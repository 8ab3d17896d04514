#!/usr/bin/env python3
"""graftbench: end-to-end benchmark of the graft engine.

    python3 graftbench/run.py --workload cdc_hot --seed 1 --seconds 12 --trace 0

Builds the program and the harness from source (build.py), generates the
workload's inputs from the seed (gen.py), runs the JVM harness on them,
checks every output against an independent recompute (check.py), and
prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
A provenance line precedes it, and the whole report is kept under
.bench_build/graftbench/reports/. See README.md for the workloads and
metrics.
"""
import argparse
import datetime
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["cdc_hot", "batch_mix"]
# the whole run, build included, must end well inside 180 s
JVM_BUDGET_S = 165
CC_QUERIES = {"d20_dedup_clusters", "d37_dedup_keep_best", "e14_semantic_clusters"}

# Spark on JDK 17 outside spark-submit needs these (the program's build
# passes the same list to its forked JVMs).
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def jvm_command(classes, run_dir, argv):
    opts = [o for p in ADD_OPENS for o in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # C1 only: the run budget never reaches C2's steady state, and a C2
    # compile queue still draining would put a trend into the timed phase.
    # C1 compiles at a tenth of its default thresholds: the set-up pass of
    # batch_mix fell from ~35 s to ~22 s and its timed passes stopped
    # speeding up by ~15 % from the first to the second.
    # A fixed-size, pre-touched heap and young generation under the
    # throughput collector: no concurrent GC threads competing for the
    # cores, and a peak RSS that does not follow how much of the old
    # generation GC timing happened to touch (it varied by ~0.2 of itself
    # between seeds); it moves with the JVM's native memory.
    opts += ["-XX:TieredStopAtLevel=1", "-XX:Tier3InvocationThreshold=20",
             "-XX:Tier3MinInvocationThreshold=10", "-XX:Tier3CompileThreshold=200",
             "-XX:Tier3BackEdgeThreshold=6000", "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g",
             "-Xmn512m", "-XX:-UseAdaptiveSizePolicy", "-XX:+AlwaysPreTouch",
             "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={run_dir}/tmp",
             "-Dspark.ui.enabled=false"]
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    return ["java"] + opts + ["-cp", cp, "graftbench.Harness"] + argv


def run_jvm(cmd, log_path, timeout_s):
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        raise SystemExit(f"graftbench: harness {'timed out' if code is None else 'failed'}")


def fingerprint(path):
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def git(*args):
    try:
        r = subprocess.run(["git", "-C", build.ROOT] + list(args), capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def provenance(a, h, info, in_dir, classes):
    inside = git("rev-parse", "--is-inside-work-tree") == "true"
    return {
        "commit": git("rev-parse", "HEAD") if inside else None,
        "dirty": bool(git("status", "--porcelain", "--untracked-files=no")) if inside else None,
        "source_hash": os.path.basename(classes).split("-", 1)[1],
        "nproc": os.cpu_count(), **{k: h["provenance"][k] for k in ("java", "spark", "scala")},
        "jvm_cores": h["provenance"]["cores"],
        "data_fingerprint": fingerprint(in_dir), "workload": a.workload, "seed": a.seed,
        "seconds": a.seconds, "trace": a.trace, "inputs": info,
        "timed_epochs_or_passes": len(timed_units(h)),
        "time": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
    }


def timed_units(h):
    """The timed epochs (cdc_hot) or passes (batch_mix), in time order."""
    return [u for u in h["units"] if not u.get("warm") and ("ms" in u or "queries" in u)]


def timed_ms(h):
    """The timed samples: epoch trigger times, or every query execution of
    the timed passes, pooled."""
    return [q["ms"] for u in timed_units(h) for q in u.get("queries", [u])]


def unit_p50(h):
    """The median epoch time; for batch_mix, each query's median execution
    time, combined over the mix by geometric mean so that every query
    counts once whatever its size. (A median pooled over all executions
    falls in the gap between the small queries and the large ones, and
    jumped by ~0.18 of itself between seeds in trial runs.)"""
    units = timed_units(h)
    if "queries" in units[0]:
        return stats.geomean([stats.median([u["queries"][i]["ms"] for u in units])
                              for i in range(len(units[0]["queries"]))])
    return stats.median([u["ms"] for u in units])


def timed_trend(h):
    """The trend of the timed epochs, or of each query's timed executions."""
    units = timed_units(h)
    if "queries" in units[0]:
        return stats.mix_trend([[q["ms"] for q in u["queries"]] for u in units])
    return stats.trend([u["ms"] for u in units])


def correctness(a, h, in_dir, run_dir):
    """(attempted, failed, detail). cdc_hot counts the epochs applied to the
    timed table; batch_mix counts timed query executions, and an execution
    fails when its fingerprint differs from the set-up result's or that
    result fails its oracle."""
    if a.workload == "batch_mix":
        verdict = check.check_batch(in_dir, os.path.join(run_dir, "results"),
                                    os.path.join(run_dir, "oracle_sql.json"))
        ref = h["reference"]
        execs = [q for u in timed_units(h) for q in u["queries"]]
        moved = sorted({q["name"] for q in execs if q["fingerprint"] != ref[q["name"]]})
        failed = sum(1 for q in execs if verdict.get(q["name"], "unchecked") is not None
                     or q["fingerprint"] != ref[q["name"]])
        return len(execs), failed, {"oracle": verdict, "fingerprint_mismatch": moved}
    applied = [u["batch"] for u in h["units"]]
    failed, detail = check.check_cdc(in_dir, os.path.join(run_dir, "final_table"),
                                     os.path.join(run_dir, "final_mv"), applied)
    return len(applied), len(failed), detail


def steal_pct(w):
    b, e = w["stat_before"], w["stat_after"]
    if len(b) < 8 or len(e) < 8:
        return 0.0
    total = sum(e[:8]) - sum(b[:8])
    return 100.0 * (e[7] - b[7]) / total if total > 0 else 0.0


def end_to_end(h, setup_s, attempted, failed):
    ms = timed_ms(h)
    elapsed_s = (max(u["end_ms"] for u in timed_units(h)) - h["window"]["start_ms"]) / 1000.0
    tail, pct, n = stats.tail(ms)
    # the tail stays in the report: at this run budget it is the median
    return {
        "setup_s": (setup_s, "s"),
        "p50_ms": (unit_p50(h), "ms"),
        "units_per_s": (len(ms) / elapsed_s, "1/s"),
        "peak_rss_mb": (h["peak_rss_mb"], "MB"),
        "ok_ratio": ((attempted - failed) / attempted, "ratio"),
    }, {"tail_ms": tail, "tail_percentile": pct, "n": n}


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(h, workload, in_dir):
    """Generic per-layer metrics (BENCHMARK.json) and the workload's own
    layer detail, from the traced items of a traced run: the traced epochs
    (CDC), or the traced query executions (batch_mix, summed per pass)."""
    units = timed_units(h)
    jobs = h["jobs"]
    owner = stats.attribute(jobs, units)
    by_unit = {u["id"]: [] for u in units}
    layer_jobs = {}
    for j in jobs:
        unit, layer = owner[j["id"]]
        layer_jobs[layer] = layer_jobs.get(layer, 0) + 1
        if unit in by_unit:
            by_unit[unit].append(j)

    def jobs_of(u, layers=None):
        return [j for j in by_unit[u["id"]]
                if layers is None or owner[j["id"]][1] in layers]

    def gap(start, end, js):
        return (end - start) - stats.union_ms(
            (max(j["start_ms"], start), min(j["end_ms"], end)) for j in js
            if j["end_ms"] >= start and j["start_ms"] <= end)

    batch = workload == "batch_mix"
    if batch:
        # an item is one traced query execution, with its own tagged jobs
        items = [dict(q, jobs=jobs_of(u, {q["name"]})) for u in units
                 for q in u["queries"] if q["traced"]]
        plain = [q for u in units for q in u["queries"] if not q["traced"]]
        names = [q["name"] for q in units[0]["queries"]]
        factor = len(names)
        overhead = sum(mean(q["ms"] for q in items if q["name"] == n) -
                       mean(q["ms"] for q in plain if q["name"] == n) for n in names)
    else:
        items = [dict(u, jobs=jobs_of(u)) for u in units if u["traced"]]
        plain = [u for u in units if not u["traced"]]
        factor = 1
        overhead = (stats.median([u["ms"] for u in items]) -
                    stats.median([u["ms"] for u in plain])) if items and plain else 0.0

    def per_unit(f):
        """Mean per traced epoch; for batch_mix the mean per traced query
        times the queries in a pass, i.e. per pass."""
        return mean(f(i) for i in items) * factor

    def qes_of(i):
        return [q for q in h["qes"] if i["start_ms"] <= q["start_ms"] <= i["end_ms"]]

    w = h["window"]
    metric = {
        "sched.jobs": per_unit(lambda i: len(i["jobs"])),
        "sched.stages": per_unit(lambda i: sum(j["stages"] for j in i["jobs"])),
        "sched.tasks": per_unit(lambda i: sum(j["tasks"] for j in i["jobs"])),
        "sched.driver_gap_ms": per_unit(lambda i: gap(i["start_ms"], i["end_ms"], i["jobs"])),
        "task.cpu_ms": per_unit(lambda i: sum(j["cpu_ms"] for j in i["jobs"])),
        "shuffle.read_mb": per_unit(lambda i: sum(j["shuffle_read"] for j in i["jobs"])) / 2**20,
        "shuffle.write_mb": per_unit(lambda i: sum(j["shuffle_write"] for j in i["jobs"])) / 2**20,
        "catalyst.actions": per_unit(lambda i: len(qes_of(i))),
        "catalyst.analysis_ms": per_unit(lambda i: sum(q["analysis_ms"] for q in qes_of(i))),
        "catalyst.optimization_ms": per_unit(
            lambda i: sum(q["optimization_ms"] for q in qes_of(i))),
        "catalyst.planning_ms": per_unit(lambda i: sum(q["planning_ms"] for q in qes_of(i))),
        "codegen.compile_ms": per_unit(lambda i: i["codegen_ms"]),
        "jvm.gc_ms": w["gc_ms"],
        "jvm.jit_ms": w["jit_ms"],
        "jvm.heap_peak_mb": w["heap_peak_mb"],
        "host.calib_ms": mean(w["calib_ms"]),
        "timed.trend": timed_trend(h),
        "trace.overhead_ms": overhead,
    }
    detail = {"spill_mb": per_unit(lambda i: sum(j["spill"] for j in i["jobs"])) / 2**20,
              "host.steal_pct": steal_pct(w)}
    if batch:
        for n in names:
            detail[f"q.{n}.ms"] = stats.median(
                [q["ms"] for u in units for q in u["queries"] if q["name"] == n])
        detail["cc.jobs"] = per_unit(lambda i: len(i["jobs"]) if i["name"] in CC_QUERIES else 0)
    else:
        def span_ms(u, layer):
            return sum(s["end_ms"] - s["start_ms"] for s in u["spans"] if s["layer"] == layer)

        def call_gap(u, layer):
            s = next(s for s in u["spans"] if s["layer"] == layer)
            return gap(s["start_ms"], s["end_ms"], jobs_of(u, {layer}))

        for phase, key in [("latest_offset", "latestOffset"), ("query_planning", "queryPlanning"),
                           ("add_batch", "addBatch"), ("wal_commit", "walCommit"),
                           ("commit_offsets", "commitOffsets")]:
            detail[f"stream.{phase}_ms"] = mean(u["phases"].get(key, 0) for u in units)
        decode_ms = mean(span_ms(u, "decode") for u in items)
        detail.update({
            "decode.ms": decode_ms,
            "decode.rows_per_s": mean(u["rows"] for u in items) / decode_ms * 1000 if decode_ms else 0.0,
            "apply.ms": mean(span_ms(u, "apply") for u in items),
            "apply.jobs": mean(len(jobs_of(u, {"apply"})) for u in items),
            "apply.tasks": mean(sum(j["tasks"] for j in jobs_of(u, {"apply"})) for u in items),
            "apply.driver_gap_ms": mean(call_gap(u, "apply") for u in items),
            "collapse.ratio": collapse_ratio(in_dir, [u["batch"] for u in units]),
            "mt.files_live": mean(u["mt"]["files_live"] for u in items),
            "mt.files_rewritten": mean(u["mt"]["files_rewritten"] for u in items),
            "mt.rewrite_ratio": mean(u["mt"]["files_rewritten"] / max(1, u["mt"]["files_prev"])
                                     for u in items),
            "mt.bytes_written": mean(u["mt"]["bytes_written"] for u in items),
            "mt.write_amp": mean(u["mt"]["bytes_written"] / u["input_bytes"] for u in items),
            "mt.dir_files": items[-1]["mt"]["dir_files"] if items else 0,
            "mt.dir_mb": items[-1]["mt"]["dir_bytes"] / 2**20 if items else 0.0,
            "mv.ms": mean(span_ms(u, "mv") for u in items),
            "mv.jobs": mean(len(jobs_of(u, {"mv"})) for u in items),
        })
    attribution = {"jobs": len(jobs), "by_layer": layer_jobs,
                   "traced_items": len(items), "plain_items": len(plain)}
    return metric, detail, attribution


def collapse_ratio(in_dir, epochs):
    """Epoch rows over distinct RECIDs, from the generator's records."""
    con = gen.connect()
    ids = ",".join(str(e) for e in epochs) or "-2"
    r = con.sql(f"""SELECT avg(n * 1.0 / k) FROM (SELECT e, count(*) n, count(DISTINCT RECID) k
        FROM read_parquet('{in_dir}/truth.parquet') WHERE e IN ({ids}) GROUP BY e)""").fetchone()
    return float(r[0] or 0.0)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()

    classes = build.build()
    run_dir = os.path.join(build.BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    in_dir = os.path.join(run_dir, "inputs")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        t0 = time.time()
        info = gen.generate(a.workload, a.seed, in_dir)
        gen_s = time.time() - t0
        spawn_ms = time.time() * 1000.0
        run_jvm(jvm_command(classes, run_dir, [a.workload, in_dir, run_dir, str(a.seconds),
                                               str(a.trace)]),
                os.path.join(run_dir, "harness.log"),
                max(30.0, JVM_BUDGET_S - (time.time() - t_start)))
        with open(os.path.join(run_dir, "harness.json")) as f:
            h = json.load(f)
        jvm_s = time.time() - spawn_ms / 1000.0
        t0 = time.time()
        attempted, failed, checks = correctness(a, h, in_dir, run_dir)
        check_s = time.time() - t0
        setup_s = gen_s + (h["window"]["start_ms"] - spawn_ms) / 1000.0
        report = {"provenance": provenance(a, h, info, in_dir, classes), "checks": checks,
                  "phases_s": {"build_gen": spawn_ms / 1000.0 - t_start, "gen": gen_s,
                               "session": h["session_s"], **h["setup_phases_s"],
                               "jvm": jvm_s, "check": check_s}}
        if a.trace:
            metric, detail, attribution = per_layer(h, a.workload, in_dir)
            units = {"sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
                     "catalyst.actions": "count", "timed.trend": "ratio"}
            metrics = {k: {"value": v, "unit": units.get(k, "MB" if k.endswith("_mb") else "ms")}
                       for k, v in metric.items()}
            report.update(layer_detail=detail, attribution=attribution,
                          trend_flag=stats.trend_flag(metric["timed.trend"]))
        else:
            e2e, tail_info = end_to_end(h, setup_s, attempted, failed)
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
            trend = timed_trend(h)
            report.update(tail=tail_info, timed_trend=trend,
                          trend_flag=stats.trend_flag(trend),
                          steal_pct=steal_pct(h["window"]), calib_ms=h["window"]["calib_ms"],
                          unit_ms=timed_ms(h))
        report["metrics"] = metrics
        reports = os.path.join(build.BUILD_DIR, "reports")
        os.makedirs(reports, exist_ok=True)
        with open(os.path.join(reports, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        print(json.dumps({"provenance": report["provenance"]}, sort_keys=True))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
