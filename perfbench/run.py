#!/usr/bin/env python3
"""Repository benchmark: one seeded workload, one run.

    python3 perfbench/run.py --workload llm_ops_sf01 --seed 1 --seconds 24 --trace 0

Builds the library and the benchmark driver (build.py, first run only),
generates the seeded tables, runs the workload in one JVM on Spark
local[n], checks every op's output, and prints the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1). The last line of
standard output is one JSON object; per-op records, spans and layer
self times go to perfbench/results/. See perfbench/README.md.
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

import build
import datagen
import outputs
import workloads

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)

# A fixed heap and the throughput collector keep peak RSS steady from run
# to run; G1 grows the heap adaptively (1.3-2.2 GB over identical runs).
# A metaspace that starts large skips the full collections its growth
# triggers during set-up.
JVM_FLAGS = ["-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-XX:MetaspaceSize=256m",
             "-XX:-UsePerfData"]
MAX_CORES = 4
JVM_TIMEOUT_S = 150


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return " ".join(f.read().split()[:3])
    except OSError:
        return "n/a"


def run_jvm(cp, opts, work, data, args, cores):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}", *opts, "-cp", cp,
           "perfbench.Main", "--passes", str(passes(args)), "--trace",
           str(args.trace), "--work", work, "--data", data, "--cores", str(cores),
           "--compact-every", str(workloads.COMPACT_EVERY)]
    with open(os.path.join(work, "jvm.log"), "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:   # also on SIGTERM, which main turns into SystemExit
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    result = os.path.join(work, "result.json")
    if p.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {p.returncode}")
    with open(result) as f:
        return json.load(f)


def passes(args):
    """The whole passes that fit in --seconds on a 4-core box, or the
    workload's minimum: every run of a workload does the same work, however
    fast the box is at the time. A traced run needs an untraced and a
    traced pass."""
    w = args.workload
    n = max(workloads.MIN_PASSES[w], int(args.seconds // workloads.PASS_S[w]))
    return max(n, 2) if args.trace else n


def tail(xs):
    """Latency at the highest percentile with at least ten samples beyond
    it (linear interpolation), with that percentile and the sample count.
    Below 50 samples that percentile falls under p80 and turns into a
    middle latency, so p80 stands in: at least a fifth of the samples lie
    beyond it, and unlike the maximum it does not hang on one op."""
    xs = sorted(xs)
    n = len(xs)
    k = max(n - 11.0, 0.8 * (n - 1))
    i = int(k)
    v = xs[i] if i + 1 == n else xs[i] + (k - i) * (xs[i + 1] - xs[i])
    return v, 100.0 * k / max(1, n - 1), n


def check_outputs(res, plan, data, work, workload):
    """Check every op; returns {op position: error} and, for writes, the
    rows each changed according to the replay."""
    con = outputs.duck(data, os.path.join(work, "tmp"))
    ops = res["ops"]
    errors = {i: o["error"] for i, o in enumerate(ops) if o["error"]}
    changed = {}
    last_write = {}
    if workload == "hiveql_dml":
        for i, o in enumerate(ops):
            op = plan[o["index"]]
            if i in errors:
                continue
            err, n = outputs.replay(con, op, o["result"])
            changed[i] = n
            if err:
                errors[i] = err
            if not op.read:
                for t in ("li", "orders_p"):
                    if f" {t} " in f" {op.text} ":
                        last_write[t] = i
    else:
        # the last warm-up run of each query wrote the output the oracle
        # checks; every other run must match its fingerprint
        reference = {o["name"]: i for i, o in enumerate(ops)
                     if o["kind"] == "query" and o["pass"] == 0}
        for q, i in reference.items():
            sql = res["oracles"].get(q)
            if sql and i not in errors:
                err = outputs.oracle(con, os.path.join(work, "out", q), sql)
                if err:
                    errors[i] = f"oracle: {err}"
        for i, o in enumerate(ops):
            op = plan[o["index"]]
            ref = ops[reference[o["name"]]]["fingerprint"] if o["kind"] == "query" else None
            if o["kind"] == "query" and i not in errors and o["fingerprint"] != ref:
                errors[i] = (f"fingerprint {o['fingerprint']} differs from the "
                             f"checked run's {ref}")
            elif o["kind"] == "sql" and op.duck and i not in errors:
                # replayed in order, so the last one leaves the final table
                _, changed[i] = outputs.replay(con, op, [])
                last_write["doc_extract"] = i
    for t, i in last_write.items():
        err = outputs.table_diff(con, os.path.join(work, "final", t), t)
        if err and i not in errors:
            errors[i] = f"final table {err}"
    return errors, changed


def metrics(res, errors, changed, gen_s, trace):
    ops = res["ops"]
    measured = [(i, o) for i, o in enumerate(ops) if o["pass"] >= 1]
    untraced = [(i, o) for i, o in measured if not o["traced"]]
    passes = res["passes"]
    lat = [o["seconds"] for _, o in untraced]
    wall = sum(p["seconds"] for p in passes if not p["traced"])
    reads = [o["seconds"] for _, o in untraced if o["read"]]
    writes = [o["seconds"] for _, o in untraced if not o["read"]]
    finals = res["final_tables"].values()
    t, pct, n = tail(lat)
    e2e = {
        "setup_s": (gen_s + res["setup_seconds"] + res["warmup_seconds"], "s"),
        "ops_per_s": (len(untraced) / wall, "1/s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (t, "s"),
        "read_p50_s": (statistics.median(reads), "s"),
        "write_p50_s": (statistics.median(writes), "s"),
        "stored_bytes_per_row": (sum(f["bytes"] for f in finals) /
                                 max(1, sum(f["rows"] for f in finals)), "B"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    notes = {"op_tail_s": f"p{pct:.1f} of n={n}" +
             (", 10 samples beyond" if n >= 50 else ", p80 below 50 samples")}
    if not trace:
        return e2e, notes

    traced = [(i, o) for i, o in measured if o["traced"]]
    counters = res.get("counters", {})
    traced_ids = {str(o["index"]): o for _, o in traced}
    # compaction runs are charged to "<op>/compact"
    ctr_ops = [k for k in counters if k.split("/")[0] in traced_ids]

    def total(key, keys=ctr_ops):
        return sum(counters[k].get(key, 0.0) for k in keys)

    n_ops = max(1, len(traced))
    spans = res.get("spans", [])

    def span_mean(name, pred=lambda o: True):
        per_op = {}
        for s in spans:
            o = traced_ids.get(s["op"])
            if s["name"] == name and o is not None and pred(o):
                per_op[s["op"]] = per_op.get(s["op"], 0.0) + s["seconds"]
        return sum(per_op.values()) / len(per_op) if per_op else 0.0

    traced_wall = sum(p["seconds"] for p in passes if p["traced"])
    result_rows = sum(o["rows"] for _, o in traced if o["read"])
    li_reads = [o for _, o in traced if o["read"] and o["name"].endswith("_li")]
    li_keys = [str(o["index"]) for o in li_reads]
    acid_writes = [o for _, o in traced if not o["read"] and o["name"].endswith("_li")]
    wh_writes = [(i, o) for i, o in traced
                 if not o["read"] and not o["name"].endswith("_li")]
    compactions = [c for c in res["compactions"] if c.get("traced")]
    user_bytes = sum(o["table_bytes_written"] for o in acid_writes)
    un_rate = wall / max(1, len(untraced))
    tr_rate = traced_wall / n_ops
    layer = {
        "session.select_prep_s": (span_mean("session.sql", lambda o: o["read"] and o["kind"] == "sql"), "s/op"),
        "session.dml_s": (span_mean("session.sql", lambda o: not o["read"]), "s/op"),
        "build.s": (span_mean("query.build"), "s/op"),
        "build.jobs": (total("jobs@query.build") / n_ops, "1/op"),
        "plan.s": (span_mean("query.plan"), "s/op"),
        "plan.exchanges": (total("exchanges") / n_ops, "1/op"),
        "plan.smj": (total("smj") / n_ops, "1/op"),
        "plan.bhj": (total("bhj") / n_ops, "1/op"),
        "plan.bnlj": (total("bnlj") / n_ops, "1/op"),
        "exec.s": (span_mean("query.exec"), "s/op"),
        "exec.jobs": (total("jobs") / n_ops, "1/op"),
        "exec.stages": (total("stages") / n_ops, "1/op"),
        "exec.tasks": (total("tasks") / n_ops, "1/op"),
        "exec.core_busy_frac": (total("run_s") / max(1e-9, traced_wall * res["cores"]), "ratio"),
        "exec.task_cpu_s": (total("cpu_s") / n_ops, "s/op"),
        "exec.gc_s": (total("gc_s") / n_ops, "s/op"),
        "exec.failed_tasks": (total("failed_tasks"), "count"),
        "scan.bytes": (total("scan_bytes") / n_ops, "B/op"),
        "scan.rows": (total("scan_rows") / n_ops, "1/op"),
        "scan.rows_per_result_row": (total("scan_rows") / max(1, result_rows), "ratio"),
        "shuffle.write_bytes": (total("shuffle_write_bytes") / n_ops, "B/op"),
        "shuffle.read_bytes": (total("shuffle_read_bytes") / n_ops, "B/op"),
        "shuffle.records": (total("shuffle_records") / n_ops, "1/op"),
        "shuffle.fetch_wait_s": (total("fetch_wait_s") / n_ops, "s/op"),
        "mem.spill_bytes": (total("spill_bytes") / n_ops, "B/op"),
        "mem.peak_exec_bytes": (max([counters[k].get("peak_exec_bytes", 0.0) for k in ctr_ops] or [0.0]), "B"),
        "cache.blocks_put": (total("blocks_put") / n_ops, "1/op"),
        "cache.bytes_put": (total("bytes_put") / n_ops, "B/op"),
        "cache.resident_rdds_after": (sum(o["resident_new"] for _, o in traced) / n_ops, "1/op"),
        "acid.active_deltas_max": (max([o["deltas"] for o in li_reads] or [0]), "count"),
        "acid.active_deltas_mean": (statistics.mean([o["deltas"] for o in li_reads] or [0]), "count"),
        "acid.rows_scanned_per_row_returned": (
            total("scan_rows", li_keys) / max(1, sum(o["rows"] for o in li_reads)), "ratio"),
        "acid.compactions": (sum(c["action"] != "none" for c in compactions) / n_ops, "1/op"),
        "acid.compact_s": (sum(c["compact_s"] for c in compactions) / n_ops, "s/op"),
        "acid.bytes_written_per_user_byte": (
            (user_bytes + sum(c["bytes_written"] for c in compactions)) / max(1, user_bytes), "ratio"),
        "warehouse.bytes_rewritten_per_row_changed": (
            sum(o["table_bytes_written"] for _, o in wh_writes) /
            max(1, sum(changed.get(i, 0) for i, _ in wh_writes)), "B/row"),
        "failed_frac": (len(errors) / max(1, len(ops)), "ratio"),
        "trace.overhead_frac": (tr_rate / un_rate - 1.0, "ratio"),
    }
    return layer, notes


def self_times(spans):
    """Per-layer self time: span duration minus what its children cover."""
    out = {}
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    for ss in by_op.values():
        for s in ss:
            child = sum(c["seconds"] for c in ss if c["parent"] == s["name"]
                        and c["start_s"] >= s["start_s"]
                        and c["start_s"] + c["seconds"] <= s["start_s"] + s["seconds"] + 1e-9)
            out[s["name"]] = out.get(s["name"], 0.0) + s["seconds"] - child
    return out


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no repository sources next to {BENCH}; run from a full checkout")
    if args.workload not in workloads.SCALE:
        fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.SCALE)}")
    load_before = loadavg()
    try:
        cp, opts = build.build()
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        fail(f"build failed: {e}")
    nproc = os.cpu_count() or 1
    cores = min(MAX_CORES, nproc)
    work = os.path.join(BENCH, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, "data")
        t0 = time.time()
        counts = datagen.write(data, args.seed, workloads.SCALE[args.workload])
        plan = workloads.plan(args.workload, args.seed, counts)
        with open(os.path.join(work, "plan.tsv"), "w") as f:
            f.write("\n".join(op.tsv() for op in plan) + "\n")
        gen_s = time.time() - t0
        corpus = hashlib.sha256()
        for t in sorted(os.listdir(data)):
            with open(os.path.join(data, t), "rb") as f:
                corpus.update(f.read())
        t1 = time.time()
        res = run_jvm(cp, opts, work, data, args, cores)
        t2 = time.time()
        errors, changed = check_outputs(res, plan, data, work, args.workload)
        walls = {"data_gen": gen_s, "jvm": t2 - t1, "check": time.time() - t2}
        values, notes = metrics(res, errors, changed, gen_s, args.trace)
        spans = res.get("spans", [])
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": nproc, "local_n": cores, "loadavg_before": load_before,
            "loadavg_after": loadavg(), "commit": commit(), "jvm": res["jvm"],
            "spark": res["spark"], "corpus": corpus.hexdigest()[:16],
            "rows": counts, "setup_seconds": res["setup_seconds"],
            "wall_s": walls, "passes": res["passes"],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
            "notes": notes, "self_time_s": self_times(spans),
            "failures": [{"op": res["ops"][i]["name"], "pass": res["ops"][i]["pass"],
                          "error": e} for i, e in sorted(errors.items())],
            "ops": [{k: v for k, v in o.items() if k != "result"} for o in res["ops"]],
            "compactions": res["compactions"], "counters": res.get("counters", {}),
            "spans": spans,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(BENCH, "results")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} nproc={nproc} "
          f"local[{cores}] loadavg {load_before} -> {report['loadavg_after']}")
    print(f"# commit {report['commit']}; {res['jvm']}; Spark {res['spark']}; "
          f"corpus {report['corpus']} ({counts['lineitem']} lineitem rows)")
    print("# wall (s): " + ", ".join(f"{k} {v:.1f}" for k, v in walls.items()) +
          f"; JVM set-up {res['setup_seconds']:.1f}, warm-up {res['warmup_seconds']:.1f}, "
          f"stream {res['stream_seconds']:.1f} in {len(res['passes'])} passes")
    for k, (v, u) in values.items():
        print(f"{k:42s} {v:14.6g} {u}" + (f"   ({notes[k]})" if k in notes else ""))
    attempted = len(res["ops"])
    print(f"# output check: {attempted - len(errors)}/{attempted} ops correct, "
          f"failed_frac {len(errors) / attempted:.4f}")
    for f in report["failures"]:
        print(f"# FAILED {f['op']} (pass {f['pass']}): {f['error'][:300]}")
    if args.trace:
        print("# self time by layer (s): " + ", ".join(
            f"{k} {v:.3f}" for k, v in sorted(report["self_time_s"].items())))
        print(f"# tracing overhead {values['trace.overhead_frac'][0]:+.3f} "
              "(traced vs untraced passes of this run)")
    print(f"# per-op records, spans and counters: {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": len(errors),
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in values.items()}}))


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "n/a (not a git checkout)"
    try:
        r = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or "n/a"
    except (OSError, subprocess.SubprocessError):
        return "n/a"


if __name__ == "__main__":
    main()
