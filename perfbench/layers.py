"""Per-layer metrics of a traced run.

``PER_LAYER`` is the fixed list BENCHMARK.json declares; a traced run of
any workload reports every name in it, with 0 for a layer that did no such
work on that workload (the layers each workload bypasses are listed in
BENCHMARK.json). Counters come from the spans ``Tracer`` recorded around
calls into each layer; the planner, codec, chunker, CSV-parse and reader
metadata timings are extra calls made after the timed passes, from outside
those layers, on the run's own inputs.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa

from perfbench.measure import median
from perfbench.workloads import FAMILY, PIPELINE_QUERIES, SHAPE_BLOCK, MEMO_FAMILIES, Ctx

# the schemes the planner picks on the generated shape table; a chunk or an
# encode call under any other scheme lands in the ``other`` bucket, so the
# counts always sum to the number of column chunks and a planner change
# that moves chunks to another scheme shows there
SCHEMES = {
    "int": ("dict", "rle", "bp", "delta"),
    "double": ("pseudodecimal", "alp"),
    "string": ("dict", "fsst"),
}
NAMED_SCHEMES = sorted({s for v in SCHEMES.values() for s in v})
WRITER = {
    "s": "s", "jobs": "count", "stages": "count", "tasks": "count", "shuffle_write_b": "B",
    "output_b": "B", "spill_b": "B", "task_run_s": "s", "gc_s": "s",
}
READ_OPS = ("full_scan", "ds_scan", "projection", "range", "lookup_sidecar", "lookup_pushdown")
# stages and spill are left out to stay within the 128 per-layer metrics:
# jobs and tasks track plan shape, and spill is 0 at these sizes
FAMILY_COUNTERS = ("jobs", "tasks", "shuffle_write_b", "codegen_n", "codegen_ms")
# per-query warm times only for the memo-backed queries, whose warm cost is
# the memo hit: all 26 would exceed the 128 per-layer metrics
MEMO_QUERIES = [q for f in MEMO_FAMILIES for q in PIPELINE_QUERIES[f]]

PER_LAYER: list[tuple[str, str]] = [
    ("session.start_s", "s"),
    ("csv_source.parse_s", "s"),
    ("csv_source.rows_per_s", "1/s"),
    ("chunker.with_chunk_id_s", "s"),
    ("chunker.shuffle_write_b", "B"),
    ("planner.choose_scheme_ms_per_col_chunk", "ms"),
    *[(f"planner.scheme_counts.{s}", "count") for s in [*NAMED_SCHEMES, "other"]],
    *[(f"codecs.encode_mb_s.{k}.{s}", "MB/s") for k, v in SCHEMES.items() for s in v],
    ("codecs.encode_mb_s.other", "MB/s"),
    *[(f"writer.{c}", u) for c, u in WRITER.items()],
    ("writer.compression_ratio", "ratio"),
    ("btr_datasource.append_s", "s"),
    ("btr_datasource.files_per_append", "count"),
    ("btr_datasource.read_s", "s"),
    ("maintenance.compact_s", "s"),
    ("maintenance.bytes_rewritten", "B"),
    ("maintenance.write_amp", "ratio"),
    ("reader.read_metadata_ms", "ms"),
    ("reader.prune_chunks_ms", "ms"),
    ("reader.chunks_kept_frac", "ratio"),
    ("reader.rows_out_per_row_read", "ratio"),
    *[(f"reader.{op}.input_b", "B") for op in READ_OPS],
    *[(f"reader.{op}.tasks", "count") for op in READ_OPS],
    *[(f"query.{q}.cold_s", "s") for q in FAMILY],
    *[(f"query.{q}.warm_s", "s") for q in MEMO_QUERIES],
    *[
        (f"family.{f}.{c}", "ms" if c == "codegen_ms" else "B" if c.endswith("_b") else "count")
        for f in PIPELINE_QUERIES
        for c in FAMILY_COUNTERS
    ],
    ("trace.overhead_frac", "ratio"),
]


def _spans(ctx: Ctx, name: str) -> list[dict]:
    return [sp for sp in ctx.tracer.spans if sp["name"] == name and "end" in sp]


def _mean_counters(ctx: Ctx, spans: list[dict]) -> dict:
    if not spans:
        return {}
    incl = ctx.tracer.rollup()
    keys = set().union(*(incl[sp["id"]] for sp in spans))
    out = {k: sum(incl[sp["id"]].get(k, 0) for sp in spans) / len(spans) for k in keys}
    out["s"] = sum(sp["end"] - sp["start"] for sp in spans) / len(spans)
    return out


_SPARK_TYPES = {pa.int32(): "int", pa.int64(): "bigint", pa.float64(): "double", pa.string(): "string"}


def _chunk_columns(table: pa.Table):
    """(spark type, kind, values, mask) per column chunk, as the writer's
    planner pass sees them."""
    from btrblocks_spark.format.planner import kind_of

    for name in table.column_names:
        col = table.column(name).combine_chunks()
        if pa.types.is_timestamp(col.type):
            stype, col = "timestamp", col.cast(pa.int64())
        else:
            stype = _SPARK_TYPES[col.type]
        kind = kind_of(stype)
        mask = ~np.asarray(col.is_null().to_numpy(zero_copy_only=False), dtype=bool)
        if kind == "string":
            vals = np.asarray(col.to_pylist(), dtype=object)
        else:
            vals = col.fill_null(0).to_numpy(zero_copy_only=False)
        for lo in range(0, len(vals), SHAPE_BLOCK):
            yield stype, kind, vals[lo:lo + SHAPE_BLOCK], mask[lo:lo + SHAPE_BLOCK]


def planner_and_codecs(table: pa.Table, out: dict) -> None:
    from btrblocks_spark.config import DEFAULT_CONFIG
    from btrblocks_spark.format import codecs
    from btrblocks_spark.format.planner import choose_scheme

    cfg = DEFAULT_CONFIG.with_(block_size=SHAPE_BLOCK)
    plan_s, n = 0.0, 0
    enc: dict[str, list[float]] = {}
    for stype, kind, vals, mask in _chunk_columns(table):
        t0 = time.perf_counter()
        plan = choose_scheme(stype, vals, mask, config=cfg)
        plan_s += time.perf_counter() - t0
        n += 1
        t0 = time.perf_counter()
        codecs.encode(kind, plan["scheme"], vals, mask, depth=cfg.max_cascade_depth)
        dt = time.perf_counter() - t0
        key = f"{kind}.{plan['scheme']}" if plan["scheme"] in SCHEMES[kind] else "other"
        b, s = enc.get(key, [0.0, 0.0])
        enc[key] = [b + plan["raw_size"], s + dt]
    out["planner.choose_scheme_ms_per_col_chunk"] = 1000 * plan_s / max(n, 1)
    for key, (b, s) in enc.items():
        out[f"codecs.encode_mb_s.{key}"] = b / 1e6 / max(s, 1e-9)


def scheme_counts(table_dir: str, out: dict) -> None:
    from btrblocks_spark.format.reader import chunk_stats_rows

    for r in chunk_stats_rows(table_dir):
        key = f"planner.scheme_counts.{r['scheme'] if r['scheme'] in NAMED_SCHEMES else 'other'}"
        out[key] = out.get(key, 0) + 1


def chunker(ctx: Ctx, parquet_path: str, key: str, out: dict) -> None:
    from btrblocks_spark.format.chunker import with_chunk_id

    df = ctx.spark.read.parquet(parquet_path)
    with ctx.span("chunker.with_chunk_id") as sp:
        with_chunk_id(df, [key], SHAPE_BLOCK).write.format("noop").mode("overwrite").save()
    c = ctx.tracer.rollup()[sp["id"]]
    out["chunker.with_chunk_id_s"] = sp["end"] - sp["start"]
    out["chunker.shuffle_write_b"] = c.get("shuffle_write_b", 0)


def csv_parse(ctx: Ctx, csv_path: str, yaml_path: str, n_rows: int, out: dict) -> None:
    from btrblocks_spark.sources.csv_source import read_csv_with_yaml_schema

    with ctx.span("csv_source.parse") as sp:
        read_csv_with_yaml_schema(ctx.spark, csv_path, yaml_path).write.format("noop").mode("overwrite").save()
    dt = sp["end"] - sp["start"]
    out["csv_source.parse_s"] = dt
    out["csv_source.rows_per_s"] = n_rows / dt


def reader_metadata(table_dir: str, ranges: list[tuple[int, int]], out: dict) -> None:
    from btrblocks_spark.format.reader import prune_chunks, read_metadata

    ts = []
    for _ in range(20):
        t0 = time.perf_counter()
        meta = read_metadata(table_dir)
        ts.append(time.perf_counter() - t0)
    out["reader.read_metadata_ms"] = 1000 * median(ts)
    ts, kept = [], []
    for lo, hi in ranges:
        t0 = time.perf_counter()
        k = prune_chunks(table_dir, "id", lo, hi, meta=meta)
        ts.append(time.perf_counter() - t0)
        kept.append(len(k) / meta["num_chunks"])
    if ranges:
        out["reader.prune_chunks_ms"] = 1000 * median(ts)
        out["reader.chunks_kept_frac"] = sum(kept) / len(kept)


def collect(ctx: Ctx, session_start_s: float, timed_s: float) -> dict:
    """Every ``PER_LAYER`` metric from the run's spans and side records."""
    out: dict = {"session.start_s": session_start_s}
    out.update(ctx.layer)

    w = _mean_counters(ctx, _spans(ctx, "writer.write_table"))
    for c in WRITER:
        out[f"writer.{c}"] = w.get(c, 0)

    app = _spans(ctx, "btr_datasource.append")
    if app:
        out["btr_datasource.append_s"] = _mean_counters(ctx, app)["s"]
    rd = _spans(ctx, "btr_datasource.read")
    if rd:
        out["btr_datasource.read_s"] = _mean_counters(ctx, rd)["s"]
    cp = _spans(ctx, "maintenance.compact")
    if cp:
        out["maintenance.compact_s"] = _mean_counters(ctx, cp)["s"]

    for op in READ_OPS:
        m = _mean_counters(ctx, _spans(ctx, f"op.{op}"))
        out[f"reader.{op}.input_b"] = m.get("input_b", 0)
        out[f"reader.{op}.tasks"] = m.get("tasks", 0)

    incl = ctx.tracer.rollup()
    warm: dict[str, list[float]] = {}
    for sp in ctx.tracer.spans:
        if not sp["name"].startswith("query.") or "end" not in sp:
            continue
        q = sp["name"][len("query."):]
        dt = sp["end"] - sp["start"]
        if sp["op"] >= 10_000:  # a warm pass: the query's median over them
            warm.setdefault(q, []).append(dt)
            continue
        out[f"query.{q}.cold_s"] = dt
        for c in FAMILY_COUNTERS:  # counters of the cold pass
            key = f"family.{FAMILY[q]}.{c}"
            out[key] = out.get(key, 0) + incl[sp["id"]].get(c, 0)
    for q in MEMO_QUERIES:
        if q in warm:
            out[f"query.{q}.warm_s"] = median(warm[q])

    out["trace.overhead_frac"] = ctx.tracer.overhead_s / max(timed_s, 1e-9)
    return {name: {"value": float(out.get(name, 0)), "unit": unit} for name, unit in PER_LAYER}


def extra_format(ctx: Ctx, src: pa.Table, bulk_dir: str) -> None:
    """Planner, codec, chunker, CSV-parse and reader-metadata figures for
    the ``format`` run, on its own inputs."""
    from perfbench import gen

    w = ctx.work
    planner_and_codecs(src, ctx.layer)
    scheme_counts(bulk_dir, ctx.layer)
    chunker(ctx, os.path.join(w, "shape.parquet"), "id", ctx.layer)
    csv_path, yaml_path = os.path.join(w, "shape.csv"), os.path.join(w, "shape.yaml")
    gen.write_shape_csv(src, csv_path, yaml_path)
    csv_parse(ctx, csv_path, yaml_path, src.num_rows, ctx.layer)
    reader_metadata(bulk_dir, ctx.detail["ranges"], ctx.layer)
