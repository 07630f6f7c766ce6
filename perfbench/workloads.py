"""The two workloads.

Every workload is a closed loop on one client thread: set up, then run a
fixed, seeded list of operations as passes, each operation issued after the
previous one returned. The first pass runs cold (JIT, codegen, planner and
session memos empty); warm passes repeat the operations whose repeat cost
matters (the reads, the queries) while another pass still fits
in ``seconds``, at least once. The warm figures are those of the first warm
pass; later passes add samples to the read latency figures. Outputs are
checked outside the timed regions; an operation that raises or fails its
check counts as failed.

The layers are timed from outside: every span wraps one call to a public
function of a layer of ``btrblocks_spark``.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from perfbench import gen
from perfbench.measure import median, tail_percentile, tree_cpu_s

MB = 1e6


@dataclass
class Op:
    kind: str
    run: object  # () -> result, timed
    check: object = None  # (result) -> bool, untimed
    prepare: object = None  # () -> None, untimed set-up of the op's input


@dataclass
class Sample:
    kind: str
    pass_no: int
    s: float
    ok: bool
    cpu_s: float = 0.0


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    cpus: int
    pid: int = field(default_factory=os.getpid)
    samples: list = field(default_factory=list)
    detail: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)

    def span(self, name: str, op: int | None = None):
        return self.tracer.span(name, op)


def _run_pass(ctx: Ctx, ops: list[Op], pass_no: int) -> float:
    total = 0.0
    for i, op in enumerate(ops):
        op_id = pass_no * 10_000 + i
        ok = True
        if op.prepare is not None:
            op.prepare()
        c0 = tree_cpu_s(ctx.pid)
        t0 = time.perf_counter()
        try:
            with ctx.span(f"op.{op.kind}", op_id):
                res = op.run()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, the loop goes on
            ok, res = False, None
            ctx.errors.append(f"{op.kind}: {type(exc).__name__}: {str(exc)[:300]}")
        # both readings are taken before the check runs: the figures are the
        # operation's alone, not the verification's
        dt = time.perf_counter() - t0
        cpu = tree_cpu_s(ctx.pid) - c0
        if ok and op.check is not None:
            try:
                ok = bool(op.check(res))
            except Exception as exc:  # noqa: BLE001
                ok = False
                ctx.errors.append(f"{op.kind} check: {type(exc).__name__}: {str(exc)[:300]}")
            if not ok and len(ctx.errors) < 50:
                ctx.errors.append(f"{op.kind}: output check failed (pass {pass_no})")
        ctx.samples.append(Sample(op.kind, pass_no, dt, ok, cpu))
        total += dt
    return total


def run_passes(ctx: Ctx, make_ops) -> None:
    """Cold pass, then as many warm passes as fit in ``ctx.seconds`` (at
    least one). ``make_ops(pass_no)`` returns that pass's operation list; it
    runs before the pass, outside the timing. Set-up ends here."""
    ctx.detail["setup_end"] = time.perf_counter()
    ctx.detail["setup_cpu_s"] = tree_cpu_s(ctx.pid)
    cold = _run_pass(ctx, make_ops(0), 0)
    warm: list[float] = []
    t0 = time.perf_counter()
    # another pass only when it should still end within ``seconds``
    while not warm or time.perf_counter() - t0 + median(warm) <= ctx.seconds:
        warm.append(_run_pass(ctx, make_ops(len(warm) + 1), len(warm) + 1))
    ctx.detail["cold_pass_s"] = cold
    ctx.detail["cold_pass_cpu_s"] = sum(s.cpu_s for s in ctx.samples if s.pass_no == 0)
    ctx.detail["warm_passes"] = len(warm)
    ctx.detail["warm_pass_s"], ctx.detail["op_geomean_ms"] = warm_summary(ctx.samples)
    ctx.detail["warm_pass_cpu_s"], ctx.detail["op_cpu_geomean_ms"] = warm_summary(ctx.samples, cpu=True)


def warm_summary(samples: list[Sample], cpu: bool = False) -> tuple[float, float]:
    """(warm pass time, typical op time) in wall or CPU seconds, both from
    the first warm pass. Later passes, run while time remains, find the JIT
    and the session memos further settled, so counting them would make the
    figure depend on how many passes fit in the host's time. The pass time
    is the pass's total; the op time is the geometric mean, in ms, of each
    operation kind's median."""
    by_kind: dict[str, list[float]] = {}
    for s in samples:
        if s.pass_no == 1:
            by_kind.setdefault(s.kind, []).append(s.cpu_s if cpu else s.s)
    pass_s = sum(sum(v) for v in by_kind.values())
    meds = [median(v) for v in by_kind.values()]
    geo_ms = math.exp(sum(math.log(1000 * max(m, 1e-3)) for m in meds) / len(meds))
    return pass_s, geo_ms


def op_times(ctx: Ctx, *kinds: str, warm: bool = True) -> list[float]:
    """Times of the successful ``kinds`` ops of the warm passes, or of the
    cold pass."""
    return [s.s for s in ctx.samples if s.kind in kinds and (s.pass_no > 0) == warm and s.ok]


def tail_ms(ctx: Ctx, *kinds: str) -> dict:
    xs = [1000 * t for t in op_times(ctx, *kinds)]
    tail = tail_percentile(xs)
    return {
        "p50_ms": median(xs),
        "tail_ms": tail[1] if tail else max(xs),
        "tail_pct": tail[0] if tail else 100.0,
        "samples": len(xs),
    }


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


def compression_ratio(table_dir: str) -> float:
    """Raw bytes over on-disk bytes (data files plus sidecars) of a table
    written with ``write_table``."""
    from btrblocks_spark.format.reader import read_metadata

    return read_metadata(table_dir)["totals"]["raw_bytes"] / dir_bytes(table_dir)


# ---------------------------------------------------------------- checks


def _norm(t: pa.Table, key: str) -> pa.Table:
    """Comparable form: column order by name, timestamps as int64, rows by key."""
    cols = {}
    for name in sorted(t.column_names):
        c = t.column(name)
        if pa.types.is_timestamp(c.type):
            c = c.cast(pa.timestamp("us")).cast(pa.int64())
        elif pa.types.is_integer(c.type):
            c = c.cast(pa.int64())
        elif pa.types.is_large_string(c.type):
            c = c.cast(pa.string())
        cols[name] = c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c
    return pa.table(cols).sort_by(key)


def same_rows(got: pa.Table, want: pa.Table, key: str) -> bool:
    return got.num_rows == want.num_rows and _norm(got, key).equals(_norm(want, key))


# ---------------------------------------------------------------- format

SHAPE_BLOCK = 1024
APPEND_ROWS = 512
APPENDS_PER_PASS = 2  # compaction needs at least two fragments
RANGES_PER_PASS = 2
LOOKUPS_PER_PASS = 1


def _shape_rows(cpus: int) -> int:
    # at least four chunks per core, so every core gets chunk work
    return 4 * cpus * SHAPE_BLOCK


def read_plan(rng: np.random.Generator, ids: np.ndarray, uids: np.ndarray) -> list[tuple]:
    """The read half of a ``format`` pass, in seeded order: full scans
    through the reader and through the DataSource, a 2-column projection,
    a metadata-only aggregate, ranges of 1-3 chunks on the sorted key, and
    point lookups: on the sorted ``id``, pruned by the sidecar's min/max
    stats, and on the unsorted ``uid``, whose row-group min/max span nearly
    the whole domain, so the Parquet reader's pushdown can skip a file only
    through the writer's bloom filter on that key."""
    n_chunks = -(-len(ids) // SHAPE_BLOCK)
    steps: list[tuple] = [("full_scan",), ("ds_scan",), ("projection",), ("metadata_agg",)]
    for _ in range(RANGES_PER_PASS):
        c0 = int(rng.integers(0, n_chunks))
        hi_row = min((c0 + int(rng.integers(1, 4))) * SHAPE_BLOCK, len(ids)) - 1
        steps.append(("range", int(ids[c0 * SHAPE_BLOCK]), int(ids[hi_row])))
    for _ in range(LOOKUPS_PER_PASS):
        steps.append(("lookup", "sidecar", int(ids[int(rng.integers(0, len(ids)))])))
        steps.append(("lookup", "pushdown", int(uids[int(rng.integers(0, len(uids)))])))
    return [steps[i] for i in rng.permutation(len(steps))]


def format_(ctx: Ctx) -> None:
    """The cold pass writes the generated table from Parquet, runs a seeded
    read mix over it, appends small batches to a copy through the
    ``btrblocks`` DataSource and compacts the copy. Warm passes repeat the
    read mix with fresh seeded ranges and keys: each write costs seconds of
    fixed Spark work at any size, so writes run once per run."""
    from pyspark.sql import functions as F

    from btrblocks_spark.config import DEFAULT_CONFIG
    from btrblocks_spark.format.maintenance import compact
    from btrblocks_spark.format.reader import metadata_agg, read_metadata, read_table, read_table_skipping
    from btrblocks_spark.format.writer import write_table
    from btrblocks_spark.sources.btr_datasource import BtrBlocksDataSource, load_btr_table

    spark, w = ctx.spark, ctx.work
    cfg = DEFAULT_CONFIG.with_(block_size=SHAPE_BLOCK)
    src = gen.shape_table(ctx.seed, _shape_rows(ctx.cpus))
    src_pq = os.path.join(w, "shape.parquet")
    gen.write_parquet(src, src_pq)
    spark.dataSource.register(BtrBlocksDataSource)
    bulk_dir, append_dir = os.path.join(w, "bulk"), os.path.join(w, "appendable")

    # the cold pass copies the table it just wrote, appends two small
    # batches to the copy through the DataSource and compacts the copy
    appended: list[tuple[pa.Table, object]] = []
    first_id = int(pc.max(src.column("id")).as_py())
    for i in range(APPENDS_PER_PASS):
        t = gen.shape_table(ctx.seed, APPEND_ROWS, first_id=first_id)
        first_id = int(pc.max(t.column("id")).as_py())
        p = os.path.join(w, f"batch{i}.parquet")
        gen.write_parquet(t, p)
        appended.append((t, spark.read.parquet(p)))
    append_want = pa.concat_tables([src] + [t for t, _ in appended])

    # ---- write ops

    def bulk():
        with ctx.span("writer.write_table"):
            # uid as second order key: the writer puts bloom filters on
            # non-dictionary order keys, and id alone already orders the rows
            return write_table(spark.read.parquet(src_pq), bulk_dir, ["id", "uid"], config=cfg)

    def bulk_check(meta: dict) -> bool:
        df, _ = read_table(spark, bulk_dir)
        return meta["num_rows"] == src.num_rows and same_rows(df.toArrow(), src, "id")

    def reset_append_table():
        shutil.rmtree(append_dir, ignore_errors=True)
        shutil.copytree(bulk_dir, append_dir)
        cycle_start.clear()
        cycle_start.update(_data_files(append_dir))

    def append(df):
        def run():
            with ctx.span("btr_datasource.append"):
                df.write.format("btrblocks").mode("append").save(append_dir)
            if ctx.tracer.enabled:  # compaction prunes the log: read it now
                ctx.detail.setdefault("append_files", []).append(len(_append_log(append_dir)[-1]["files"]))
            return True

        return run

    cycle_start: dict[str, int] = {}

    def do_compact():
        before = _data_files(append_dir)
        with ctx.span("maintenance.compact"):
            stats = compact(spark, append_dir)
        rewritten = sum(b for f, b in _data_files(append_dir).items() if f not in before)
        appended_b = sum(b for f, b in before.items() if f not in cycle_start)
        ctx.detail.setdefault("compact", []).append((rewritten, appended_b))
        return stats

    def compact_check(stats: dict) -> bool:
        got, _ = read_table(spark, append_dir)
        return (
            stats.get("compacted") is True
            and read_metadata(append_dir)["num_rows"] == append_want.num_rows
            and same_rows(got.toArrow(), append_want, "id")
        )

    # ---- read ops, over the table the cold pass wrote

    ids, uids = src.column("id").to_numpy(), src.column("uid").to_numpy()
    checked: set = set()

    def once(tag: tuple, fn):
        """Check a full-table output once per run: comparing it on every
        repetition would double the run, and its plan does not change."""

        def check(res) -> bool:
            if tag in checked:
                return True
            checked.add(tag)
            return fn(res)

        return check

    def noop(df):
        df.write.format("noop").mode("overwrite").save()
        return df

    def full_scan():
        with ctx.span("reader.read_table"):
            df, _ = read_table(spark, bulk_dir)
        return noop(df)

    def ds_scan():
        with ctx.span("btr_datasource.read"):
            return noop(load_btr_table(spark, bulk_dir))

    def proj():
        with ctx.span("reader.read_table"):
            df, _ = read_table(spark, bulk_dir)
        return noop(df.select("id", "price"))

    def agg_check(col: str):
        want = (src.num_rows - src.column(col).null_count, pc.sum(src.column("id")).as_py())

        def check(df) -> bool:
            row = df.agg(F.count(col).alias("n"), F.sum("id").alias("s")).collect()[0]
            return (row["n"], row["s"]) == want

        return check

    def meta_agg():
        with ctx.span("reader.metadata_agg"):
            return metadata_agg(bulk_dir)

    def meta_check(rows) -> bool:
        by = {r["column"]: r for r in rows}
        for c in ("id", "runs", "low_ndv", "price", "clustered", "category"):
            col, r = src.column(c), by[c]
            mm = pc.min_max(col)
            if (r["n_rows"], r["n_nulls"], r["min"], r["max"]) != (
                src.num_rows, col.null_count, mm["min"].as_py(), mm["max"].as_py()
            ):
                return False
        return True

    def skipping(lo: int, hi: int):
        with ctx.span("reader.read_table_skipping"):
            df, kept = read_table_skipping(spark, bulk_dir, "id", lo, hi)
        got = df.toArrow()
        ctx.detail.setdefault("kept", []).append((len(kept), got.num_rows))
        return got

    def pushdown(k: int):
        with ctx.span("reader.read_table"):
            df, _ = read_table(spark, bulk_dir)
        return df.filter(F.col("uid") == k).toArrow()

    def rows_check(lo: int, hi: int, col: str = "id"):
        c = src.column(col)
        want = src.filter(pc.and_(pc.greater_equal(c, lo), pc.less_equal(c, hi)))
        return lambda got: same_rows(got, want, "id")

    def read_op(step: tuple) -> Op:
        kind = step[0]
        if kind == "full_scan":
            return Op(kind, full_scan, once(step, agg_check("id")))
        if kind == "ds_scan":
            return Op(kind, ds_scan, once(step, agg_check("id")))
        if kind == "projection":
            return Op(kind, proj, once(step, agg_check("price")))
        if kind == "metadata_agg":
            return Op(kind, meta_agg, meta_check)
        if kind == "range":
            lo, hi = step[1:]
            ctx.detail.setdefault("ranges", []).append((lo, hi))
            return Op(kind, lambda: skipping(lo, hi), rows_check(lo, hi))
        how, k = step[1:]
        if how == "sidecar":
            return Op("lookup_sidecar", lambda: skipping(k, k), rows_check(k, k))
        return Op("lookup_pushdown", lambda: pushdown(k), rows_check(k, k, "uid"))

    rng = np.random.default_rng([ctx.seed, 7])

    def make_ops(pass_no: int) -> list[Op]:
        reads = [read_op(step) for step in read_plan(rng, ids, uids)]
        if pass_no > 0:
            return reads
        appends = [
            Op("append", append(df), None, reset_append_table if i == 0 else None)
            for i, (_t, df) in enumerate(appended)
        ]
        return [Op("write_parquet", bulk, bulk_check), *reads, *appends, Op("compact", do_compact, compact_check)]

    run_passes(ctx, make_ops)

    raw_bulk = read_metadata(bulk_dir)["totals"]["raw_bytes"]
    rt = tail_ms(ctx, "range")
    lk = tail_ms(ctx, "lookup_sidecar", "lookup_pushdown")

    def mb_s(kind: str, warm: bool = True) -> float:
        return median([raw_bulk / MB / t for t in op_times(ctx, kind, warm=warm)])

    ctx.layer["writer.compression_ratio"] = compression_ratio(bulk_dir)
    ctx.detail["named"] = {
        "compression_ratio": (ctx.layer["writer.compression_ratio"], "ratio"),
        "ingest_mb_s": (mb_s("write_parquet", warm=False), "MB/s"),
        "append_p50_s": (median(op_times(ctx, "append", warm=False)), "s"),
        "compact_p50_s": (median(op_times(ctx, "compact", warm=False)), "s"),
        "scan_mb_s": (mb_s("full_scan"), "MB/s"),
        "ds_scan_mb_s": (mb_s("ds_scan"), "MB/s"),
        "range_p50_ms": (rt["p50_ms"], "ms"),
        f"range_p{rt['tail_pct']:g}_ms": (rt["tail_ms"], "ms"),
        "lookup_p50_ms": (lk["p50_ms"], "ms"),
        f"lookup_p{lk['tail_pct']:g}_ms": (lk["tail_ms"], "ms"),
    }
    ctx.detail["samples"] = {"range": rt["samples"], "lookup": lk["samples"]}
    if ctx.tracer.enabled:
        from perfbench import layers

        layers.extra_format(ctx, src, bulk_dir)
        files = ctx.detail.pop("append_files")
        ctx.layer["btr_datasource.files_per_append"] = sum(files) / len(files)
        rw = ctx.detail["compact"]
        ctx.layer["maintenance.bytes_rewritten"] = median([r for r, _a in rw])
        ctx.layer["maintenance.write_amp"] = sum(r for r, _a in rw) / max(sum(a for _r, a in rw), 1)
        kept = ctx.detail["kept"]
        ctx.layer["reader.rows_out_per_row_read"] = sum(n for _k, n in kept) / max(
            sum(k for k, _n in kept) * SHAPE_BLOCK, 1
        )


def _data_files(table_dir: str) -> dict[str, int]:
    d = os.path.join(table_dir, "data")
    return {
        f: os.path.getsize(os.path.join(d, f))
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    }


def _append_log(table_dir: str) -> list[dict]:
    from btrblocks_spark.sources.btr_datasource import read_json_log

    return [e for e in read_json_log(os.path.join(table_dir, "_appends.json")) if e.get("files")]


# ---------------------------------------------------------------- pipeline

PIPELINE_QUERIES = {
    "tpch": [
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
        "q6_forecast_revenue", "q9_product_profit", "q18_large_volume_customer",
        "q21_sole_failing_supplier",
    ],
    "relational": ["join_multi", "window_rank", "agg_rollup"],
    "events": ["events_sessionize", "events_time_rollup", "events_asof_join", "events_funnel"],
    "text": ["text_quality", "text_bm25_topk", "text_fingerprint"],
    "dedup": [
        "dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard",
        "dedup_tfidf_cosine", "dedup_clusters",
    ],
    "ann": ["ann_cosine_topk", "ann_ivf_topk"],
    "retrieval": ["retrieval_rrf_hybrid"],
    "stats": ["stats_histogram"],
}
FAMILY = {q: f for f, qs in PIPELINE_QUERIES.items() for q in qs}
# the families whose builders memoize per session (pair tables, cluster
# labels): their warm time is the memo-hit cost
MEMO_FAMILIES = ("dedup", "retrieval")
PIPELINE_SCALE = 1


def _oracle_rows(raw_dir: str, sql: dict[str, str]) -> dict:
    """(sorted column names, sorted rows) of each oracle query, the form
    ``oracle.compare`` compares."""
    from btrblocks_spark.oracle import duck_connect, rows_key

    con = duck_connect(raw_dir)
    try:
        out = {}
        for q, text in sql.items():
            res = con.execute(text)
            cols = [d[0] for d in res.description]
            out[q] = (sorted(cols), rows_key(cols, [tuple(r) for r in res.fetchall()]))
        return out
    finally:
        con.close()


def pipeline_order(seed: int) -> list[str]:
    """The seeded permutation of the query mix both passes run in."""
    names = [q for qs in PIPELINE_QUERIES.values() for q in qs]
    return [names[i] for i in np.random.default_rng([seed, 11]).permutation(len(names))]


def pipeline(ctx: Ctx) -> None:
    """The 26-query mix as one cold pass, then as warm passes in the same
    order, in one fresh session."""
    from btrblocks_spark.oracle import rows_key
    from btrblocks_spark.queries import all_oracles, all_queries

    spark = ctx.spark
    raw_dir = os.path.join(ctx.work, "raw")
    os.makedirs(raw_dir)
    for name, t in gen.relational_tables(ctx.seed, PIPELINE_SCALE).items():
        gen.write_parquet(t, os.path.join(raw_dir, f"{name}.parquet"))
    names = [q for qs in PIPELINE_QUERIES.values() for q in qs]
    order = pipeline_order(ctx.seed)
    queries, oracles = all_queries(), all_oracles()
    want: dict = {}

    def check(q: str, res) -> bool:
        if not want:  # DuckDB runs at the first check, outside the timed calls
            want.update(_oracle_rows(raw_dir, {n: oracles[n] for n in names}))
        return (sorted(res[0]), rows_key(*res)) == want[q]

    def run_query(q: str):
        with ctx.span(f"query.{q}"):
            df = queries[q](spark, raw_dir)
            return [f.name for f in df.schema.fields], [tuple(r) for r in df.collect()]

    def make_ops(pass_no: int) -> list[Op]:
        return [Op(q, lambda q=q: run_query(q), lambda res, q=q: check(q, res)) for q in order]

    run_passes(ctx, make_ops)
    ctx.detail["named"] = {
        "pipeline_cold_s": (ctx.detail["cold_pass_s"], "s"),
        "pipeline_warm_s": (ctx.detail["warm_pass_s"], "s"),
    }
    ctx.detail["oracle_matches"] = sum(1 for s in ctx.samples if s.pass_no == 0 and s.ok)
    if ctx.tracer.enabled:
        from perfbench import layers

        layers.chunker(ctx, os.path.join(raw_dir, "lineitem.parquet"), "l_orderkey", ctx.layer)


WORKLOADS = {"format": format_, "pipeline": pipeline}
