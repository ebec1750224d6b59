"""The workloads' ops. A workload has a set-up (inputs, oracle check,
pinned digests) and a fixed op sequence per pass; every op is timed from
its public call to a drained, checked answer.

An op is (name, kind, call, expect, after):
  call()   the public call; returns a frame to drain, or None for a write
           whose effect the following reads check;
  expect   the pinned digest, a callable returning one, or None;
  after()  untimed bookkeeping once the op has run (the lake's model).
"""
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import inputs
from check import Oracle, oracle_pin, plan_selftest
from engine import clear_state, drain, long_digest

OLAP_OPS = {  # op -> tables it scans (one entry per scan)
    "ssa_program": ["lineitem"],
    "q1_agg": ["lineitem"],
    "q6_selective_agg": ["lineitem"],
    "agg_two_phase": ["lineitem"],
    "agg_overflow": ["lineitem"],
    "merge_sorted": ["lineitem"] * 3,
    "replace_dedup": ["events"],
    "topk": ["orders"],
    "q5_region_revenue": ["region", "nation", "supplier", "lineitem"],
    "join_multi": ["customer", "orders", "lineitem"],
}
# The dedup chain as one public call: MinHash signatures -> LSH candidates
# -> Jaccard verify -> connected components -> representatives.
DEDUP_OPS = {"dedup_representatives": ["documents"] * 2}
# Run once each in the traced run: the chain's stages one by one (for the
# dedup counters) and IVF ANN top-k.
DEDUP_PROBES = {
    "dedup_minhash_sig": ["documents"],
    "dedup_minhash_pairs": ["documents"],
    "dedup_jaccard_pairs": ["documents"],
    "ann_ivf_topk": ["embeddings"] * 2,
}


class Op:
    def __init__(self, name, kind, call, expect=None, rows=0, after=None):
        self.name, self.kind, self.call, self.expect = name, kind, call, expect
        self.rows, self.after = rows, after


def execute(op):
    """The op's public call and drain, then its untimed bookkeeping and
    check. Returns (t0, t1, t2, t3), the digest, the op's frame, the digest
    frame and None or the failure; [t0, t2] is the op's latency."""
    df = dig = ddf = None
    t0 = time.time()
    t1 = t2 = t0
    try:
        df = op.call()
        t1 = time.time()
        if df is not None:
            dig, ddf = drain(df)
        t2 = time.time()
    except Exception as e:
        return (t0, t1, t2, time.time()), None, df, None, f"threw: {str(e)[:300]}"
    t3 = time.time()
    err = None
    try:
        if op.after:
            op.after()
        want = op.expect() if callable(op.expect) else op.expect
        if want is not None and dig != want:
            err = f"digest {dig} != {want}"
    except Exception as e:
        err = f"check threw: {str(e)[:300]}"
    return (t0, t1, t2, t3), dig, df, ddf, err


class OlapWorkload:
    """Named `SparkEntry.queries` ops over the replicated test tables, each
    checked against DuckDB at set-up and pinned to its digest. The seed
    draws the inputs and the order of the mix for each pass."""

    def __init__(self, ctx, copies, doc_copies=None, probes=False):
        self.ctx, self.copies, self.doc_copies = ctx, copies, doc_copies
        self.ops = dict(OLAP_OPS, **(DEDUP_OPS if doc_copies else {}))
        self.probes = DEDUP_PROBES if doc_copies and probes else {}
        self.data = os.path.join(ctx.work, "data")
        self.pins, self.pin_s, self.failed_setup = {}, {}, []

    def setup(self):
        """Write the inputs, then check every op against the oracle and pin
        its digest. The ops run concurrently (one thread per core): these
        are the cold first executions, the run's warm-up. Then the plan
        check's self-test."""
        rows = inputs.materialize(self.data, self.ctx.seed, self.copies, self.doc_copies or 1)
        self.input_digest = inputs.files_digest(self.data)
        self.rows = {n: sum(rows[t] for t in ts)
                     for n, ts in {**self.ops, **self.probes}.items()}
        ctx = self.ctx
        oracle = Oracle(ctx.root, self.data)

        def pin(name):
            t = time.time()
            try:
                df = self.define(name)
                if name not in ctx.oracle_sql:
                    return name, drain(df)[0], None
                return name, oracle_pin(ctx.spark, df, ctx.oracle_sql[name], oracle,
                                        os.path.join(ctx.work, "oracle", name)), None
            except Exception as e:  # counted in failed, never a fast success
                return name, None, f"{name}: {str(e)[:300]}"
            finally:
                self.pin_s[name] = round(time.time() - t, 3)

        try:
            with ThreadPoolExecutor(os.cpu_count() or 1) as pool:
                for name, digest, err in pool.map(pin, [*self.ops, *self.probes]):
                    if err:
                        self.failed_setup.append(err)
                    else:
                        self.pins[name] = digest
        finally:
            oracle.close()
        try:
            why = plan_selftest(ctx.spark, self.define("q1_agg"),
                                os.path.join(self.data, "lineitem.parquet"))
        except Exception as e:
            why = f"threw: {str(e)[:300]}"
        if why:
            self.failed_setup.append(f"plan self-test: {why}")
        clear_state(ctx.spark)

    def define(self, name):
        from pyspark.sql import DataFrame
        ctx = self.ctx
        return DataFrame(ctx.queries.apply(name).apply(ctx.jss, self.data), ctx.spark)

    def _op(self, name):
        return Op(name, "read", lambda: self.define(name), self.pins.get(name), self.rows[name])

    def pass_ops(self, p, rng):
        names = list(self.ops)
        return [self._op(names[i]) for i in rng.permutation(len(names))]

    def probe_ops(self):
        return [self._op(n) for n in self.probes]


class LakeWorkload:
    """An Arrow-IPC table under writes and reads. A model of the table is
    kept from the applied batches; every read's digest must equal the one
    recomputed from the model.

    Table: (id, grp = id % 16, val). Batches are formulas of the ids, so the
    program builds them itself and the model replays them exactly."""
    GROUPS = 16

    def __init__(self, ctx, rows, append, upsert, every):
        self.ctx, self.n0, self.n_append, self.n_upsert, self.every = ctx, rows, append, upsert, every
        self.path = os.path.join(ctx.work, "lake", "t")
        self.logical_bytes = 0

    # ── model ───────────────────────────────────────────────────────────
    def _model_set(self, ids, vals):
        self.model.update(zip(ids.tolist(), vals.tolist()))

    def _model_arrays(self):
        ids = np.fromiter(self.model.keys(), dtype=np.int64, count=len(self.model))
        vals = np.fromiter(self.model.values(), dtype=np.int64, count=len(self.model))
        return ids, ids % self.GROUPS, vals

    def _ipc_bytes(self, n):
        """Arrow-IPC bytes of n rows of (long, long, long)."""
        import pyarrow as pa
        z = np.zeros(n, dtype=np.int64)
        sink = pa.BufferOutputStream()
        t = pa.table({"id": z, "grp": z, "val": z})
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        return sink.getvalue().size

    # ── program side ────────────────────────────────────────────────────
    def _frame(self, lo, hi, val_expr):
        import pyspark.sql.functions as F
        return self.ctx.spark.range(lo, hi).select(
            F.col("id"), (F.col("id") % self.GROUPS).alias("grp"), F.expr(val_expr).alias("val"))

    def _table(self):
        return self.ctx.spark.read.format("arrow-ipc").load(self.path)

    def setup(self):
        ctx = self.ctx
        shutil.rmtree(os.path.dirname(self.path), ignore_errors=True)
        rng = np.random.default_rng([ctx.seed, 3])
        # the seed picks the value formula's multiplier
        self.mult = int(rng.integers(3, 997))
        self.next_id = self.n0
        ctx.spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
        (self._frame(0, self.n0, f"(id * {self.mult}) % 1000").repartitionByRange(8, "id")
         .write.format("arrow-ipc").mode("overwrite").save(self.path))
        ids = np.arange(self.n0, dtype=np.int64)
        self.model = {}
        self._model_set(ids, (ids * self.mult) % 1000)

    def warm_up(self, rng):
        """Pass 0, untimed, with the same checks as a timed pass. Returns
        the failures."""
        errors = []
        for op in self.pass_ops(0, rng):
            err = execute(op)[4]
            if err:
                errors.append(f"warm-up {op.name}: {err}")
        return errors

    def pass_ops(self, p, rng):
        """append, equality upsert, pruned read (through the tombstones),
        fold, MOR update, MOR delete, group-by read; every `every`-th pass
        a compaction. Each write's `after` replays it on the model, untimed."""
        import pyspark.sql.functions as F
        ctx, jvm, mult, groups = self.ctx, self.ctx.jvm, self.mult, self.GROUPS
        lo_a, lo_u = self.next_id, self.next_id + self.n_append
        hi = lo_u + self.n_upsert
        self.next_id = hi
        val_u = f"(id * 13 + {p}) % 1000 + 1000"
        g, r = p % groups, p % 101

        def append():
            self._frame(lo_a, lo_u, f"(id * {mult}) % 1000").write.format("arrow-ipc") \
                .mode("append").save(self.path)

        def append_model():
            ids = np.arange(lo_a, lo_u, dtype=np.int64)
            self._model_set(ids, (ids * mult) % 1000)
            self.logical_bytes += self._ipc_bytes(len(ids))

        def upsert():
            old = self._frame(0, lo_u, val_u).filter((F.col("id") * 7 + p) % 97 == 0)
            batch = old.unionByName(self._frame(lo_u, hi, val_u))
            res = jvm.jvm.graft.sources.ArrowEqualityDeletes.upsertBatchKeys(
                ctx.jss, self.path, jvm.seq(["id"]), batch._jdf, False)
            if not res.applied():
                raise AssertionError("upsert did not commit")

        def upsert_model():
            old = np.arange(lo_u, dtype=np.int64)
            ids = np.concatenate([old[(old * 7 + p) % 97 == 0], np.arange(lo_u, hi, dtype=np.int64)])
            self._model_set(ids, (ids * 13 + p) % 1000 + 1000)
            self.logical_bytes += self._ipc_bytes(len(ids))

        def dml(mode, sql):
            def call():
                ctx.spark.conf.set(f"spark.graft.arrow.{mode}", "mor")
                try:
                    ctx.spark.sql(sql)
                finally:
                    ctx.spark.conf.unset(f"spark.graft.arrow.{mode}")
            return call

        def update_model():
            hit = [k for k in self.model if k % groups == g]
            for k in hit:
                self.model[k] += 1
            self.logical_bytes += self._ipc_bytes(len(hit))

        def delete_model():
            for k in [k for k in self.model if k % 101 == r]:
                del self.model[k]

        lo = int(rng.integers(0, max(lo_a - 1000, 1)))

        def pruned_expect():
            ids, grp, val = self._model_arrays()
            m = (ids >= lo) & (ids < lo + 1000)
            return long_digest(ids[m], grp[m], val[m])

        def group_expect():
            ids, grp, val = self._model_arrays()
            keys = np.arange(groups, dtype=np.int64)
            cnt = np.bincount(grp, minlength=groups).astype(np.int64)
            s = np.zeros(groups, dtype=np.int64)
            np.add.at(s, grp, val)
            keep = cnt > 0
            return long_digest(keys[keep], cnt[keep], s[keep])

        live = len(self.model)
        fold = Op("lake_fold", "write", lambda: jvm.jvm.graft.sources.ArrowEqualityDeletes
                  .fold(ctx.jss, self.path) and None, rows=live)
        ops = [
            Op("lake_append", "write", append, rows=self.n_append, after=append_model),
            Op("lake_upsert", "write", upsert, rows=self.n_upsert, after=upsert_model),
            Op("lake_read_pruned", "read",
               lambda: self._table().filter((F.col("id") >= lo) & (F.col("id") < lo + 1000))
               .select("id", "grp", "val"), pruned_expect, rows=1000),
            # row-level DML refuses a table with live equality tombstones
            fold,
            Op("lake_update", "write",
               dml("updateMode", f"UPDATE graft.`{self.path}` SET val = val + 1 WHERE grp = {g}"),
               rows=live, after=update_model),
            Op("lake_delete", "write",
               dml("deleteMode", f"DELETE FROM graft.`{self.path}` WHERE id % 101 = {r}"),
               rows=live, after=delete_model),
            Op("lake_read_group", "read",
               lambda: self._table().groupBy("grp").agg(
                   F.count(F.lit(1)).alias("cnt"), F.sum("val").alias("s")),
               group_expect, rows=live)]
        if p % self.every == self.every - 1:
            ops.append(Op("lake_compact", "write", lambda: jvm.jvm.graft.sources.ArrowMaintenance
                          .compact(ctx.jss, self.path, 128 << 20, jvm.jvm.scala.Option.empty())
                          and None, rows=live))
        return ops

    def storage(self):
        """Files and bytes under the table directory: data files
        (`part-*.arrows` outside hidden and metadata directories), files of
        the merge-on-read side (`.dv` deletion vectors, `.eq` tombstones),
        and all bytes stored."""
        live = mor = stored = 0
        for d, _, fs in os.walk(self.path):
            rel = os.path.relpath(d, self.path).split(os.sep)
            hidden = any(p.startswith((".", "_")) for p in rel if p != ".")
            for f in fs:
                stored += os.path.getsize(os.path.join(d, f))
                if ".dv" in rel or ".eq" in rel:
                    mor += 1
                elif not hidden and f.startswith("part-") and f.endswith(".arrows"):
                    live += 1
        return {"files_live": live, "mor_files": mor, "bytes_stored": stored,
                "live_ipc_bytes": self._ipc_bytes(len(self.model))}


class MixWorkload:
    """The OLAP mix (in a seeded order) followed, when given, by the lake
    sequence. Set-up runs the oracle checks of the OLAP ops and the lake's
    table creation and warm-up pass concurrently, one thread per core."""

    def __init__(self, olap, lake=None):
        self.olap, self.lake = olap, lake
        self.failed_setup = []

    def setup(self, seed, selftest):
        """`selftest(spark)` returns None or a failure; it runs beside the
        rest."""
        def check():
            why = selftest(self.olap.ctx.spark)
            if why:
                self.failed_setup.append(f"self-test: {why}")

        tasks = [self.olap.setup, check]
        if self.lake:
            def lake():
                self.lake.setup()
                self.failed_setup.extend(self.lake.warm_up(np.random.default_rng([seed, 5])))
            tasks.append(lake)
        with ThreadPoolExecutor(len(tasks)) as pool:
            for f in [pool.submit(t) for t in tasks]:
                f.result()
        self.failed_setup.extend(self.olap.failed_setup)
        self.input_digest = self.olap.input_digest + (
            f"+lake-{self.lake.n0}-{self.lake.mult}" if self.lake else "")

    def pass_ops(self, p, rng):
        return self.olap.pass_ops(p, rng) + (self.lake.pass_ops(p, rng) if self.lake else [])

    def probe_ops(self):
        return self.olap.probe_ops()
