"""Spans recorded around the calls into each layer, plus the Spark event
log (an EventLoggingListener the benchmark registers for traced sessions),
folded into per-layer metrics.

A span is (op id, name, start, end, parent). Times are epoch seconds, the
clock Spark's listener events use. Spans stay in memory and are written
once at the end of the run. An op's wall time runs from its public call to
its drained digest; the check after it is a span of its own, outside.
"""
import glob
import json
import os

LEAVES = ("define", "call", "analysis", "optimization", "planning")


class Tracer:
    def __init__(self):
        self.spans = []
        self.ops = []  # one record per traced op: id, name, kind, t0, t1, extra

    def span(self, op_id, name, start, end, parent="op"):
        self.spans.append({"op": op_id, "name": name, "start": start, "end": end,
                           "parent": parent})

    def op(self, rec):
        self.ops.append(rec)


def union_len(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def read_event_log(log_dir):
    """Jobs and stages (with summed task metrics) from Spark's event log."""
    jobs, stages = {}, {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {"start": ev["Submission Time"] / 1e3,
                                          "end": None, "stages": ev.get("Stage IDs", [])}
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _empty_stage())
                    m = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    im = m.get("Input Metrics", {})
                    st["in_bytes"] += im.get("Bytes Read", 0)
                    st["in_rows"] += im.get("Records Read", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    st["sh_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                    st["sh_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    return jobs, stages


def _empty_stage():
    return {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "spill": 0,
            "in_bytes": 0, "in_rows": 0, "sh_read": 0, "fetch_wait_s": 0.0, "sh_write": 0}


def attribute(tracer, jobs, stages, cores):
    """Per-op layer numbers: the jobs submitted inside an op's window
    [t0, t1] are that op's (one client, ops run one after another)."""
    spans_by_op = {}
    for s in tracer.spans:
        spans_by_op.setdefault(s["op"], []).append(s)
    out = []
    for rec in tracer.ops:
        t0, t1 = rec["t0"], rec["t1"]
        mine = [j for j in jobs.values() if t0 <= j["start"] <= t1 and j["end"] is not None]
        job_iv = clip([(j["start"], j["end"]) for j in mine], t0, t1)
        sts = [stages[s] for j in mine for s in j["stages"] if s in stages]
        agg = _empty_stage()
        for st in sts:
            for k in agg:
                agg[k] += st[k]
        wall = t1 - t0
        span_s = union_len(job_iv)
        # Leaf spans that carry a layer's time: the public call, the
        # digest frame's analysis, optimization and planning phases, and
        # the jobs. What they leave uncovered is unexplained driver time.
        leaves = [(s["start"], s["end"]) for s in spans_by_op.get(rec["id"], [])
                  if s["name"] in LEAVES]
        covered = union_len(clip(job_iv + leaves, t0, t1))
        r = dict(rec)
        r.update(wall=wall, jobs=len(mine), stages=len(sts), job_span_s=span_s,
                 gap_s=wall - span_s, coverage=covered / wall if wall else 1.0,
                 unexplained_s=wall - covered, **agg)
        # Self time of a span: its duration minus the part of it that job
        # spans and its child spans cover.
        mine_spans = spans_by_op.get(rec["id"], [])
        for s in mine_spans:
            if s["parent"] == "op":
                inner = clip(job_iv + [(c["start"], c["end"]) for c in mine_spans
                                       if c["parent"] == s["name"]], s["start"], s["end"])
                r[s["name"] + "_self_s"] = (s["end"] - s["start"]) - union_len(inner)
        r["busy_frac"] = agg["run_s"] / (span_s * cores) if span_s > 0 else 0.0
        out.append(r)
    return out


def write_spans(path, tracer):
    with open(path, "w") as f:
        json.dump({"spans": tracer.spans, "ops": tracer.ops}, f)
