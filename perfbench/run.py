#!/usr/bin/env python3
"""Outside-in benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The program is built from source with sbt
(once per source state), driven through a py4j gateway as a caller of the
compiled classes, and given a session by `graft.Engine.session` at
local[<nproc>]. One client runs the workload's ops in a closed loop.

`--trace 0` prints the end-to-end metrics; `--trace 1` runs a warm-up pass,
one untraced pass, one traced pass and one untraced pass, and prints the
per-layer metrics. The last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
A wrong digest, an oracle mismatch or an op that throws makes the exit
code 1. `--selftest seed` checks that inputs and digests are a function of
the seed. See perfbench/README.md for the metrics and workloads.
"""
import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402

import engine  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402
from check import ansi_selftest, plan_check  # noqa: E402

HEAP = "3g"
IDLE_GATE = {"load1": 3.0, "steal_pct": 1.0}
# Workload -> (copies of the sf0.01 fact tables, copies of its documents
# table or None, lake table rows or None, seconds of the run budget per timed
# pass). A 4-core box takes ~25 s of set-up and ~12 s per pass on the small
# workload, ~35 s and ~16 s on the large one, so at --seconds 22 a run of
# either lasts about a minute: one pass of the small workload (its passes
# vary little) and two of the large. See perfbench/README.md for why each
# workload exists.
WORKLOADS = {
    "small_olap_lake": (1, None, 50_000, 20.0),
    "large_olap_dedup": (16, 2, None, 11.0),
}
TAIL_LEVELS = (50, 75, 90, 95, 99, 99.9)
DEADLINE_S = 175  # a run, after the build, must end within 180 s
END_TO_END = {"setup_s": "s", "pass_s": "s", "read_mean_s": "s", "rows_per_s": "rows/s"}
# Per-layer metrics of a traced run; times and counts are per pass. A layer
# a workload does not exercise reads 0 there.
PER_LAYER = {
    "driver.define_s": "s", "driver.optimization_s": "s", "driver.planning_s": "s",
    "driver.gap_s": "s", "driver.share": "ratio", "driver.unexplained_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.job_span_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.busy_frac": "ratio", "exec.gc_s": "s",
    "jvm.live_heap_mb": "MB", "jvm.code_cache_mb": "MB",
    "scan.bytes": "B", "scan.rows": "rows", "scan.rows_per_out_row": "ratio",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "shuffle.fetch_wait_s": "s",
    "spill.bytes": "B",
    "lake.append_s": "s", "lake.upsert_s": "s", "lake.fold_s": "s", "lake.update_s": "s",
    "lake.delete_s": "s", "lake.compact_s": "s", "lake.read_s": "s",
    "lake.write_p50_s": "s", "lake.write_tail_s": "s",
    "lake.bytes_read": "B", "lake.bytes_written": "B",
    "lake.files_live": "count", "lake.mor_files": "count", "lake.bytes_stored": "B",
    "lake.write_amp": "ratio", "lake.space_amp": "ratio",
    "dedup.candidates": "count", "dedup.pairs": "count", "dedup.yield": "ratio",
    "functions.docs_per_cpu_s": "docs/s", "ann.probe_s": "s",
    "trace.overhead": "ratio", "trace.coverage": "ratio",
}


class Ctx:
    """What a workload needs: the JVM, the session, the query map."""

    def __init__(self, root, work, seed, jvm):
        self.root, self.work, self.seed, self.jvm = root, work, seed, jvm
        self.spark = None

    def new_session(self, master):
        self.spark = self.jvm.session(master)
        self.jss = self.spark._jsparkSession
        self.queries = self.jvm.jvm.graft.SparkEntry.queries()
        sql = self.jvm.jvm.graft.SparkEntry.oracleSql()
        self.oracle_sql = {k: sql.apply(k) for k in
                           self.jvm.jvm.scala.jdk.javaapi.CollectionConverters.asJava(sql.keys())}


def make_workload(name, ctx, trace):
    copies, doc_copies, lake_rows, _ = WORKLOADS[name]
    olap = workloads.OlapWorkload(ctx, copies, doc_copies, probes=trace)
    lake = workloads.LakeWorkload(ctx, lake_rows, append=2_000, upsert=1_000, every=2) \
        if lake_rows else None
    return workloads.MixWorkload(olap, lake)


def pass_count(name, seconds):
    """Whole passes for a run budget of `seconds`: a fixed count, so every
    run measures the same work."""
    return max(1, round(seconds / WORKLOADS[name][3]))


# ── environment ─────────────────────────────────────────────────────────
def cpu_jiffies():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ── statistics ──────────────────────────────────────────────────────────
def tail(samples):
    """Highest of TAIL_LEVELS with >= 10 samples beyond it:
    (value, percentile, samples); the median when there are fewer."""
    xs = sorted(samples)
    n = len(xs)
    best = 50
    for q in TAIL_LEVELS:
        if n * (100 - q) / 100 >= 10:
            best = q
    if not xs:
        return 0.0, best, 0
    idx = min(n - 1, int(np.ceil(best / 100 * n)) - 1) if best > 50 else None
    return (xs[idx] if idx is not None else statistics.median(xs)), best, n


# ── the closed loop ─────────────────────────────────────────────────────
class Loop:
    """Runs passes of the workload's ops, one op after another. A pass's
    time is the sum of its ops' latencies (public call to drained digest);
    the checks and clean-up between ops are outside it. `planned` holds the
    ops whose digest plan the run has checked (once per op and run)."""

    def __init__(self, ctx, wl, planned, tracer=None):
        self.ctx, self.wl, self.planned, self.tracer = ctx, wl, planned, tracer
        self.lat = {"read": [], "write": []}
        self.by_op = {}
        self.out_rows = {}
        self.passes, self.heap = [], []
        self.attempted = self.failed = 0
        self.errors = []
        self.pass_s = 0.0
        self.rows = 0
        self.seq = 0

    def run_op(self, op, p):
        ctx, tr = self.ctx, self.tracer
        op_id = f"{p}:{op.name}"
        self.attempted += 1
        (t0, t1, t2, t3), dig, df, ddf, err = workloads.execute(op)
        if err is None and ddf is not None and op.name not in self.planned:
            self.planned.add(op.name)
            try:
                why = plan_check(df, ddf)
                err = f"plan check: {why}" if why else None
            except Exception as e:
                err = f"plan check threw: {str(e)[:300]}"
        t4 = time.time()
        if err:
            self.failed += 1
            self.errors.append(f"{op_id}: {err}")
        else:
            self.pass_s += t2 - t0
            self.lat.setdefault(op.kind, []).append(t2 - t0)
            self.by_op.setdefault(op.name, []).append(t2 - t0)
            if dig is not None:
                self.out_rows[op.name] = dig[0]
            self.rows += op.rows
        if tr is not None:
            tr.span(op_id, "call" if op.kind == "write" else "define", t0, t1)
            tr.span(op_id, "drain", t1, t2)
            tr.span(op_id, "check", t3, t4)
            rec = {"id": op_id, "name": op.name, "kind": op.kind, "pass": p,
                   "t0": t0, "t1": t2, "latency": t2 - t0, "ok": err is None,
                   "out_rows": dig[0] if dig else None}
            if ddf is not None:
                phases = ddf._jdf.queryExecution().tracker().phases()
                for ph in ("analysis", "optimization", "planning"):
                    opt = phases.get(ph)
                    if opt.isDefined():
                        s = opt.get()
                        rec[ph + "_s"] = s.durationMs() / 1e3
                        tr.span(op_id, ph, s.startTimeMs() / 1e3, s.endTimeMs() / 1e3,
                                parent="drain")
            tr.op(rec)
        engine.clear_state(ctx.spark)

    def one_pass(self):
        p = self.seq
        self.seq += 1
        self.pass_s = 0.0
        for op in self.wl.pass_ops(p, self.rng):
            self.run_op(op, p)
        self.passes.append(self.pass_s)
        gc.collect()  # drop py4j proxies, so the JVM can free what they pin
        self.heap.append(self.ctx.jvm.live_heap_mb())

    def run(self, passes, rng):
        self.rng = rng
        for _ in range(passes):
            self.one_pass()
        return self


def end_to_end(loop, setup_s):
    pass_s = statistics.median(loop.passes)
    reads = loop.lat.get("read", [])
    rt, rq, rn = tail(reads)
    m = {"setup_s": setup_s,
         "pass_s": pass_s,
         "read_mean_s": statistics.mean(reads),
         "rows_per_s": loop.rows / len(loop.passes) / pass_s}
    extra = {"read_p50_s": statistics.median(reads),
             "read_tail_s": rt, "read_tail_pct": rq, "read_samples": rn,
             "passes": len(loop.passes), "failed_frac": loop.failed / max(loop.attempted, 1)}
    return m, extra


def olap_s(loop):
    """Sum of the OLAP mix's op latencies in a loop: ops that keep no state,
    so passes compare (a lake op's cost drifts with the table)."""
    return sum(sum(v) for k, v in loop.by_op.items() if k in workloads.OLAP_OPS)


def per_layer(ctx, loop, ops, cores, refs, lake):
    """Per-layer numbers of the traced passes: times and counts are per pass
    (totals over the traced passes divided by their number); `probe` ops
    feed only the dedup and ANN numbers. `refs` are the untraced passes run
    just before and just after them in the same session."""
    n = len(loop.passes)
    probes = {o["name"]: o for o in ops if o["kind"] == "probe"}
    ops = [o for o in ops if o["kind"] != "probe"]
    tot = lambda k: sum(o.get(k) or 0 for o in ops)  # noqa: E731
    wall, job_span = tot("wall"), tot("job_span_s")
    reads = [o for o in ops if o["kind"] == "read" and o["ok"]]

    def med(*names):
        xs = [o["latency"] for o in ops if o["name"] in names and o["ok"]]
        return statistics.median(xs) if xs else 0.0

    def rows(name):
        return (probes.get(name) or {}).get("out_rows") or 0

    ann = probes.get("ann_ivf_topk")

    cand, pairs = rows("dedup_minhash_pairs"), rows("dedup_jaccard_pairs")
    sig_cpu = (probes.get("dedup_minhash_sig") or {}).get("cpu_s", 0)
    m = {
        "driver.define_s": (tot("define_self_s") + tot("call_self_s")) / n,
        "driver.optimization_s": tot("optimization_s") / n,
        "driver.planning_s": tot("planning_s") / n,
        "driver.gap_s": tot("gap_s") / n,
        "driver.share": tot("gap_s") / wall if wall else 0.0,
        "driver.unexplained_s": tot("unexplained_s") / n,
        "sched.jobs": tot("jobs") / n,
        "sched.stages": tot("stages") / n,
        "sched.tasks": tot("tasks") / n,
        "sched.job_span_s": job_span / n,
        "exec.run_s": tot("run_s") / n,
        "exec.cpu_s": tot("cpu_s") / n,
        "exec.busy_frac": tot("run_s") / (job_span * cores) if job_span else 0.0,
        "exec.gc_s": tot("gc_s") / n,
        "jvm.live_heap_mb": max(h for r in refs for h in r.heap),
        "jvm.code_cache_mb": ctx.jvm.code_cache_mb(),
        "scan.bytes": tot("in_bytes") / n,
        "scan.rows": tot("in_rows") / n,
        "scan.rows_per_out_row": (sum(o.get("in_rows", 0) for o in reads) /
                                  max(sum(o["out_rows"] or 0 for o in reads), 1)),
        "shuffle.write_bytes": tot("sh_write") / n,
        "shuffle.read_bytes": tot("sh_read") / n,
        "shuffle.fetch_wait_s": tot("fetch_wait_s") / n,
        "spill.bytes": tot("spill") / n,
        "lake.append_s": med("lake_append"),
        "lake.upsert_s": med("lake_upsert"),
        "lake.fold_s": med("lake_fold"),
        "lake.update_s": med("lake_update"),
        "lake.delete_s": med("lake_delete"),
        "lake.compact_s": med("lake_compact"),
        "lake.read_s": med("lake_read_pruned", "lake_read_group"),
        "dedup.candidates": cand,
        "dedup.pairs": pairs,
        "dedup.yield": pairs / cand if cand else 0.0,
        "functions.docs_per_cpu_s": rows("dedup_minhash_sig") / sig_cpu if sig_cpu else 0.0,
        "ann.probe_s": ann["latency"] if ann and ann["ok"] else 0.0,
        "trace.overhead": olap_s(loop) / statistics.mean(olap_s(r) for r in refs) - 1,
        "trace.coverage": min((o["coverage"] for o in ops), default=1.0),
    }
    m.update(lake)
    return {k: m.get(k, 0.0) for k in PER_LAYER}


def lake_numbers(ctx, wl, loop, fs0):
    """Storage-side numbers of the lake table (none without one)."""
    if wl is None:
        return {}, {}
    fs1 = ctx.jvm.fs_stats()
    n = len(loop.passes)
    st = wl.storage()
    w = loop.lat.get("write", [])
    wt, wq, wn = tail(w)
    written = fs1["bytes_written"] - fs0["bytes_written"]
    m = {"lake.bytes_read": (fs1["bytes_read"] - fs0["bytes_read"]) / n,
         "lake.bytes_written": written / n,
         "lake.files_live": st["files_live"],
         "lake.mor_files": st["mor_files"],
         "lake.bytes_stored": st["bytes_stored"],
         "lake.write_amp": written / max(wl.logical_bytes, 1),
         "lake.space_amp": st["bytes_stored"] / st["live_ipc_bytes"],
         "lake.write_p50_s": statistics.median(w) if w else 0.0,
         "lake.write_tail_s": wt}
    return m, {"write_tail_pct": wq, "write_samples": wn, **st}


# ── one run ─────────────────────────────────────────────────────────────
def run(args, root):
    nproc = os.cpu_count() or 1
    master = f"local[{nproc}]"
    base = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(base, exist_ok=True)
    class_path = engine.build(root, base)
    signal.alarm(DEADLINE_S)
    deadline = time.time() + DEADLINE_S
    work = os.path.join(base, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = {"nproc": nproc, "cores": nproc, "heap": HEAP, "seed": args.seed,
           "commit": git_commit(root) or f"source:{engine.source_stamp(root)[:16]}",
           "load1_start": os.getloadavg()[0]}
    j0 = cpu_jiffies()
    tracer = spans.Tracer() if args.trace else None
    events = os.path.join(work, "events")
    jvm = None
    try:
        marks = [("start", time.time())]
        jvm = engine.Jvm(class_path, work, HEAP)
        marks.append(("jvm", time.time()))
        ctx = Ctx(root, work, args.seed, jvm)
        ctx.new_session(master)
        marks.append(("session", time.time()))
        wl = make_workload(args.workload, ctx, args.trace)
        wl.setup(args.seed, ansi_selftest)
        setup_errors = list(wl.failed_setup)
        loops = []

        planned = set()

        def new_loop(tracer=None, after=None):
            loops.append(Loop(ctx, wl, planned, tracer))
            loops[-1].seq = after.seq if after else 1
            return loops[-1]

        loop = new_loop()
        marks.append(("inputs_oracle_warmup", time.time()))
        setup_s = marks[-1][1] - marks[0][1]
        env["setup_split_s"] = {k: round(t - marks[i][1], 3) for i, (k, t) in enumerate(marks[1:])}

        passes = pass_count(args.workload, args.seconds)
        rng = np.random.default_rng([args.seed, 4])
        if not args.trace:
            loop.run(passes, rng)
        else:
            # A warm-up pass (the first pass after set-up still runs ~25 %
            # slow), one untraced pass, one traced pass (Spark's event log on,
            # spans kept), one untraced pass: all in this session, so the
            # untraced passes bracket the traced one's warm-up point and give
            # the tracing overhead.
            loop.run(1, rng)
            first = new_loop(after=loop).run(1, rng)
            os.makedirs(events)
            listener = jvm.start_event_log(events)
            tl = new_loop(tracer, after=first)
            fs0 = jvm.fs_stats()
            tl.run(1, rng)
            lake_m, lake_detail = lake_numbers(ctx, wl.lake, tl, fs0)
            for op in wl.probe_ops():
                op.kind = "probe"
                tl.run_op(op, "probe")
            jvm.stop_event_log(listener)
            last = new_loop(after=tl).run(1, rng)
        metrics, extra = end_to_end(loop, setup_s)
        detail = {"env": env, "extra": extra, "input_digest": wl.input_digest,
                  "oracle_pin_s": wl.olap.pin_s,
                  "output_digests": {k: list(v) for k, v in wl.olap.pins.items()},
                  "passes_s": loop.passes, "live_heap_mb": loop.heap,
                  "latency_by_op": [lp.by_op for lp in loops]}
        if args.trace:
            jobs, stages = spans.read_event_log(events)
            ops = spans.attribute(tracer, jobs, stages, nproc)
            metrics = per_layer(ctx, tl, ops, nproc, [first, last], lake_m)
            spans.write_spans(os.path.join(base, f"spans-{args.workload}-{args.seed}.json"), tracer)
            detail.update(lake=lake_detail, layers_by_op=_by_op(ops),
                          traced_passes_s=tl.passes,
                          untraced_passes_s=loop.passes + first.passes + last.passes,
                          coverage_median=statistics.median(o["coverage"] for o in ops))
            if wl.olap.doc_copies:  # the executor-bound workload
                detail["scaling_olap_mix_s"] = scaling(ctx, wl, new_loop, nproc, args.seed, last,
                                                       deadline)
    finally:
        signal.alarm(0)
        if jvm is not None:
            jvm.close()
    j1 = cpu_jiffies()
    env["load1_end"] = os.getloadavg()[0]
    env["steal_pct"] = 100.0 * (j1[1] - j0[1]) / max(j1[0] - j0[0], 1)
    env["idle_gate_ok"] = (max(env["load1_start"], env["load1_end"]) <= IDLE_GATE["load1"]
                           and env["steal_pct"] <= IDLE_GATE["steal_pct"])
    attempted = sum(lp.attempted for lp in loops) + len(setup_errors)
    failed = sum(lp.failed for lp in loops) + len(setup_errors)
    errors = setup_errors + [e for lp in loops for e in lp.errors]
    detail["errors"] = errors
    with open(os.path.join(base, f"result-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({"metrics": metrics, **detail}, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    return metrics, detail, attempted, failed, errors


def _by_op(ops):
    keys = ("wall", "latency", "jobs", "stages", "tasks", "job_span_s", "gap_s", "run_s",
            "cpu_s", "in_rows", "in_bytes", "sh_write", "coverage", "busy_frac",
            "analysis_s", "optimization_s", "planning_s", "drain_self_s", "unexplained_s")
    out = {}
    for o in ops:
        out.setdefault(o["name"], []).append({k: o.get(k) for k in keys})
    return {n: {k: statistics.median([r[k] for r in rs if r[k] is not None] or [0])
                for k in keys} for n, rs in out.items()}


def scaling(ctx, wl, new_loop, nproc, seed, last, deadline):
    """Time of the OLAP mix (the sum of its ops' latencies) at local[1] and
    local[2], each in a fresh session once the traced passes have warmed the
    JVM, and at local[nproc] in the run's last untraced pass; recorded
    only. A point that would not end well before the run's deadline (a
    loaded machine) is left out, and the curve says so."""
    curve = {nproc: olap_s(last)}
    for c in sorted({1, 2} - {nproc}):
        if time.time() + 5 + 1.5 * curve[nproc] * nproc / (c + 2) > deadline - 15:
            curve[c] = "skipped: too close to the deadline"
            continue
        ctx.new_session(f"local[{c}]")
        lp = new_loop()
        for op in wl.olap.pass_ops(0, np.random.default_rng([seed, 8])):
            if op.name in workloads.OLAP_OPS:
                lp.run_op(op, f"local{c}")
        curve[c] = olap_s(lp)
    ctx.jvm.stop_session()
    return curve


def selftest_seed(args, root):
    """Same seed: identical input and output digests; another seed: a
    different input digest, and every op still passes. Each run is a process
    of its own, as the timed runs are."""
    runs = []
    for seed in (args.seed, args.seed, args.seed + 1):
        rc = subprocess.call([sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                              "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
                             cwd=root, stdout=subprocess.DEVNULL)
        with open(os.path.join(root, ".bench_build", "perfbench",
                               f"result-{args.workload}-{seed}-t0.json")) as f:
            d = json.load(f)
        runs.append((d["input_digest"], d["output_digests"], rc == 0 and not d["errors"],
                     d["errors"]))
    (i1, o1, ok1, _), (i2, o2, ok2, _), (i3, _, ok3, e3) = runs
    checks = {"same_seed_inputs": i1 == i2, "same_seed_outputs": o1 == o2,
              "other_seed_inputs_differ": i1 != i3, "all_ops_pass": ok1 and ok2 and ok3}
    print(json.dumps({"selftest": "seed", "workload": args.workload, **checks,
                      "errors": e3[:5]}))
    return 0 if all(checks.values()) else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=22)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", choices=("seed",))
    args = ap.parse_args()
    root = os.getcwd()
    signal.signal(signal.SIGALRM, lambda *_: (_ for _ in ()).throw(TimeoutError(f"run over {DEADLINE_S} s")))
    if args.selftest:
        return selftest_seed(args, root)
    metrics, detail, attempted, failed, errors = run(args, root)
    signal.alarm(0)
    for e in errors[:20]:
        print(f"[perfbench] FAILED {e}", file=sys.stderr)
    env = detail["env"]
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} "
          f"commit={env['commit']} nproc={env['nproc']} heap={env['heap']} "
          f"load1={env['load1_start']:.2f}->{env['load1_end']:.2f} "
          f"steal={env['steal_pct']:.2f}% idle_gate={'ok' if env['idle_gate_ok'] else 'FLAGGED'}")
    print(f"# setup_split_s = {env['setup_split_s']}")
    for k, v in detail["extra"].items():
        print(f"# {k} = {v}")
    for k in ("traced_passes_s", "untraced_passes_s", "coverage_median"):
        if k in detail:
            print(f"# {k} = {detail[k]}")
    for c, s in sorted(detail.get("scaling_olap_mix_s", {}).items()):
        print(f"# scaling local[{c}] olap_mix_s = {s}")
    units = PER_LAYER if args.trace else END_TO_END
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
