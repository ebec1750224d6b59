"""Correctness checks the benchmark runs at set-up, untimed: the DuckDB
oracle, the digest's plan check with its self-test, and the ANSI
self-test."""
import importlib.util
import os
import re

import duckdb

from engine import digest_frame, drain


def _compare_oracle_module(root):
    """tools/compare_oracle.py of the checkout: its table list and cell
    normalisation are the rule the oracle gate uses."""
    spec = importlib.util.spec_from_file_location(
        "compare_oracle", os.path.join(root, "tools", "compare_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    """DuckDB over the same parquet files the program reads: one database
    per set-up; each checking thread compares through a cursor of its own."""

    def __init__(self, root, data_dir):
        ref = _compare_oracle_module(root)
        self.norm = ref.norm
        spill = os.path.join(os.path.dirname(data_dir), "duckdb_tmp")
        self.con = duckdb.connect(config={"threads": 1, "memory_limit": "1GB",
                                          "temp_directory": spill})
        for t in ref.TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                         f"'{os.path.join(data_dir, t)}.parquet'")

    def close(self):
        self.con.close()

    def compare(self, sql, out_dir):
        """compare_oracle.py's rule (columns by name, then shape, dtype kinds
        and every cell under `norm`), with the cells compared column-wise
        first: its cell-by-cell loop takes minutes on the million-row
        outputs. Returns None or a reason."""
        con = self.con.cursor()
        try:
            got = con.sql(f"SELECT * FROM '{out_dir}/*.parquet'").df()
            want = con.sql(materialize_ctes(sql)).df()
        finally:
            con.close()
        got, want = got[sorted(got.columns)], want[sorted(want.columns)]
        if list(got.columns) != list(want.columns):
            return f"columns {list(got.columns)} vs {list(want.columns)}"
        if got.shape != want.shape:
            return f"shape {got.shape} vs {want.shape}"
        for c in got.columns:
            a, b = got[c], want[c]
            if a.dtype.kind != b.dtype.kind and {a.dtype.kind, b.dtype.kind} != {"O"}:
                return f"dtype {c}: {a.dtype} vs {b.dtype}"
            try:
                same = ((a == b) | (a.isna() & b.isna())).to_numpy()
            except (TypeError, ValueError):
                same = [False] * len(a)
            for i in (i for i, ok in enumerate(same) if not ok):
                x, y = self.norm(a.iloc[i]), self.norm(b.iloc[i])
                px, py = x is None or x != x, y is None or y != y
                if not (px and py) and (px != py or _differs(x, y)):
                    return f"row {i} col {c}: {x!r} vs {y!r}"
        return None


def materialize_ctes(sql):
    """Mark every non-recursive CTE `AS MATERIALIZED`. DuckDB inlines CTEs,
    so the dedup oracles recomputed their signature CTE once per reference
    (16 LSH bands) and the components oracle its whole pair pipeline on
    every recursion step: minutes and > 1 GB at 1000 documents, about a
    second materialized. The hint does not change any result."""
    return re.sub(r"(\bWITH\s+(?:RECURSIVE\s+)?|,\s*)(\w+) AS \(", r"\1\2 AS MATERIALIZED (", sql)


def _differs(x, y):
    d = x != y
    return bool(d.any()) if hasattr(d, "any") else bool(d)


def oracle_pin(spark, df, sql, oracle, out_dir):
    """Write the op's output, compare it with the oracle, and return the
    digest of the checked rows (read back) to pin timed runs against."""
    df.coalesce(1).write.mode("overwrite").parquet(out_dir)
    why = oracle.compare(sql, out_dir)
    if why:
        raise AssertionError(f"oracle mismatch: {why}")
    return drain(spark.read.parquet(out_dir))[0]


AGG_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")
WINDOW_NODES = ("Window", "WindowGroupLimit")
TOPK_NODES = ("TakeOrderedAndProject", "GlobalLimit", "CollectLimit")
_LINE = re.compile(r"^([\s:|+\-]*)(?:\*\(\d+\)\s*)?([A-Za-z]+)")
_PLAN_ID = re.compile(r"\[plan_id=(\d+)\]")


def plan_string(df):
    """The frame's physical plan as a tree string: AQE's final plan once it
    has run, else the plan it starts from (planning runs no job). Query
    stages print the plan they hold."""
    p = df._jdf.queryExecution().executedPlan()
    if p.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        p = p.executedPlan() if p.isFinalPlan() else p.inputPlan()
    return p.toString()


def plan_nodes(plan_str):
    """Node names of a plan tree string. A reused exchange counts as the
    subtree of the exchange it reuses, so a subtree AQE reuses counts as
    often as it is read."""
    lines = [(len(m.group(1)), m.group(2), line) for line in plan_str.splitlines()
             if (m := _LINE.match(line))]
    exchanges = {}
    for i, (_, name, line) in enumerate(lines):
        pid = _PLAN_ID.search(line)
        if pid and name.endswith("Exchange") and name != "ReusedExchange":
            exchanges[pid.group(1)] = i

    def subtree(i):
        depth, out = lines[i][0], []
        for d, name, line in lines[i:]:
            if out and d <= depth:
                break
            if name == "ReusedExchange" and (pid := _PLAN_ID.search(line)) \
                    and pid.group(1) in exchanges:
                out.extend(subtree(exchanges[pid.group(1)]))
            else:
                out.append(name)
        return out

    return subtree(0) if lines else []


def _counts(df):
    nodes = plan_nodes(plan_string(df))
    return {k: sum(nodes.count(n) for n in names) for k, names in
            (("agg", AGG_NODES), ("join", JOIN_NODES), ("window", WINDOW_NODES),
             ("topk", TOPK_NODES))}


def plan_check(df, digest_df):
    """The digest frame's final plan must keep the aggregate, join, window
    and sort-under-limit nodes of the op's own physical plan, plus the
    digest's own partial and final aggregate; a digest that Catalyst cut
    down to a scan would time a different query. Returns None or a reason."""
    need = _counts(df)
    need["agg"] += 2
    have = _counts(digest_df)
    for k in need:
        if have[k] < need[k]:
            return f"{k} nodes {have[k]} < {need[k]}"
    return None


def plan_selftest(spark, df, table_path):
    """The plan check rejects a digest over the op's input scan (the op's
    aggregates gone). `df` is an op with at least one aggregate. Returns
    None or a reason."""
    if _counts(df)["agg"] == 0:
        return "plan self-test op has no aggregate"
    cut = digest_frame(spark.read.parquet(table_path))
    cut.collect()
    if plan_check(df, cut) is None:
        return "plan check accepted a digest of the bare scan"
    return None


def ansi_selftest(spark):
    """The digest reads the same with ANSI on and off on an input whose
    BIGINT hash sum overflows. Returns None or a reason. Runs in a session
    of its own, so the conf it flips reaches no other query."""
    import pyspark.sql.functions as F
    spark = spark.newSession()
    df = spark.range(0, 4096).select(F.col("id"), (F.col("id") * 7919).alias("v"))
    hs = df.select(F.xxhash64("id", "v").cast("decimal(38,0)").alias("h")).agg(F.sum("h")).collect()[0][0]
    if abs(int(hs)) < 2**63:
        return "self-test input does not overflow a long"
    got = {}
    for ansi in ("true", "false"):
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        got[ansi] = tuple(digest_frame(df).collect()[0])
    if got["true"] != got["false"]:
        return f"digest differs with ANSI on/off: {got}"
    return None
