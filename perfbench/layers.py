"""Per-layer metrics of the traced run.

:func:`instrument` wraps the program's public entry points so each call
opens a span named after its layer; :func:`layer_metrics` turns the
spans of the timed operations into per-operation figures (a day on
``daily_pipeline``, a query on ``query_mix``). A layer a workload does
not reach reads 0 on that workload.
"""

from __future__ import annotations

from collections import defaultdict

import spans as sp
from workloads import median

from bc_proj3_spark.catalog import Catalog
from bc_proj3_spark.io import landing, sources
from bc_proj3_spark.operators import incremental
from bc_proj3_spark.pipeline import gold, runner

#: Catalog methods by span name; calls nested in a maintenance span do
#: not count toward catalog.write_s.
_CATALOG = {
    "catalog.write": ("overwrite", "overwrite_partitions", "append", "delete_where"),
    "catalog.read": ("read",),
    "catalog.maintenance": ("compact", "vacuum"),
}

#: Query builder modules with their own metrics (those of the sample).
PLAN_MODULES = ("tpch", "events", "aggfuncs", "sqlapi", "silverops")
OPERATOR_MODULES = ("graph", "sketch", "quality", "cdc", "profile", "dedup",
                    "similarity", "textstats")


def instrument(tracer: sp.Tracer) -> None:
    for fn in ("fetch_arxiv", "fetch_nyt", "fetch_scholar"):
        tracer.patch(sources, fn, "io.fetch")
    tracer.patch(landing, "select_batch_file", "io.select")
    tracer.replace(runner, "_BRONZE", tuple(
        (name, sub, sep, tracer.wrap(fn, "pipeline.bronze"))
        for name, sub, sep, fn in runner._BRONZE))
    tracer.replace(runner, "_SILVER", tuple(
        (name, table, tracer.wrap(fn, "pipeline.silver"))
        for name, table, fn in runner._SILVER))
    tracer.patch(gold, "gold_words", "gold.words")
    tracer.patch(gold, "gold_scoring", "gold.scoring")
    tracer.patch(incremental, "merge_upsert", "incremental.merge")
    tracer.patch(incremental, "dedup_insert", "incremental.dedup_insert")
    for layer, methods in _CATALOG.items():
        for m in methods:
            tracer.patch(Catalog, m, layer)


def layer_of(module: str) -> str | None:
    """'plans.tpch' / 'operators.graph' / 'streaming.incremental' for a
    builder module ('plans.tpch', ...), None if it has no metrics."""
    pkg, _, mod = module.partition(".")
    if pkg == "streaming":
        return "streaming.incremental"
    if mod in (PLAN_MODULES if pkg == "plans" else OPERATOR_MODULES):
        return module
    return None


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in print order."""
    names = [
        ("session.start_s", "s"), ("registry.import_s", "s"),
        ("io.fetch_s", "s"), ("io.select_s", "s"), ("io.landed_bytes", "bytes"),
        ("bronze.s", "s"), ("bronze.jobs", "count"),
        ("silver.s", "s"), ("silver.jobs", "count"),
        ("incremental.merge_s", "s"), ("incremental.rows_changed_per_row_read", "ratio"),
        ("gold.words_s", "s"), ("gold.scoring_s", "s"), ("gold.jobs", "count"),
        ("gold.rows_written_per_new_row", "ratio"),
        ("catalog.write_s", "s"), ("catalog.read_s", "s"),
        ("catalog.files_written", "count"), ("catalog.bytes_written", "bytes"),
        ("catalog.bytes_live", "bytes"),
    ]
    for layer in ([f"plans.{m}" for m in PLAN_MODULES]
                  + [f"operators.{m}" for m in OPERATOR_MODULES]):
        names += [(f"{layer}.builder_s", "s"), (f"{layer}.run_s", "s"),
                  (f"{layer}.jobs", "count")]
    names += [
        ("operators.artifacts.published", "count"),
        ("streaming.incremental.s", "s"), ("streaming.incremental.jobs", "count"),
        ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
        ("spark.failed_tasks", "count"), ("spark.driver_only_s", "s"),
        ("trace.overhead_s", "s"), ("trace.op_s.p50", "s"),
    ]
    return names


def layer_metrics(tracer: sp.Tracer, ctx, workload, session_s: float,
                  registry_s: float) -> dict[str, tuple[float, str]]:
    kids = tracer.children()
    ops = [s for s in tracer.spans if s.parent is None and s.name == "op"]
    n = max(len(ops), 1)
    by_name: dict[str, list[sp.Span]] = defaultdict(list)
    for s in tracer.spans:
        by_name[s.name].append(s)

    def outermost(name: str) -> list[sp.Span]:
        """Spans of ``name`` not nested in another span of its layer."""
        prefix = name.split(".")[0] + "."
        return [s for s in by_name[name]
                if not any(a.startswith(prefix) for a in tracer.ancestors(s))]

    def per_op_s(name: str) -> float:
        return sum(s.dur for s in outermost(name)) / n

    def jobs(roots: list[sp.Span]) -> int:
        return sum(len(x.jobs) for r in roots for x in tracer.subtree(r, kids))

    def per_op_jobs(*names: str) -> float:
        return sum(jobs(outermost(nm)) for nm in names) / n

    def attr(key: str, last: bool = False) -> float:
        vals = [s.attrs[key] for s in ops if key in s.attrs]
        if not vals:
            return 0.0
        return vals[-1] if last else sum(vals) / len(vals)

    v: dict[str, float] = defaultdict(float)
    v["session.start_s"] = session_s
    v["registry.import_s"] = registry_s
    v["io.fetch_s"] = per_op_s("io.fetch")
    v["io.select_s"] = per_op_s("io.select")
    v["io.landed_bytes"] = attr("landed_bytes")
    v["bronze.s"] = per_op_s("pipeline.bronze")
    v["bronze.jobs"] = per_op_jobs("pipeline.bronze")
    v["silver.s"] = per_op_s("pipeline.silver")
    v["silver.jobs"] = per_op_jobs("pipeline.silver")
    v["incremental.merge_s"] = per_op_s("incremental.merge")
    v["incremental.rows_changed_per_row_read"] = attr("merge_changed_per_read")
    v["gold.words_s"] = per_op_s("gold.words")
    v["gold.scoring_s"] = per_op_s("gold.scoring")
    v["gold.jobs"] = per_op_jobs("gold.words", "gold.scoring")
    v["gold.rows_written_per_new_row"] = attr("gold_rows_per_new_row")
    v["catalog.write_s"] = per_op_s("catalog.write")
    v["catalog.read_s"] = per_op_s("catalog.read")
    v["catalog.files_written"] = attr("files_written")
    v["catalog.bytes_written"] = attr("bytes_written")
    v["catalog.bytes_live"] = attr("bytes_live", last=True)

    # query workloads: per-module means over the queries of that module
    per_layer: dict[str, list[tuple[float, float, int]]] = defaultdict(list)
    for op in ops:
        parts = {c.name.rsplit(".", 1)[1]: c for c in kids.get(op.id, ())
                 if c.name.endswith((".builder", ".run"))}
        if "builder" not in parts:
            continue
        layer = layer_of(parts["builder"].name.rsplit(".", 1)[0])
        run = parts.get("run")
        per_layer[layer].append(
            (parts["builder"].dur, run.dur if run else 0.0, jobs([op])))
    for layer, rows in per_layer.items():
        if layer is None:
            continue
        k = len(rows)
        if layer == "streaming.incremental":
            v["streaming.incremental.s"] = sum(b + r for b, r, _ in rows) / k
            v["streaming.incremental.jobs"] = sum(j for *_, j in rows) / k
        else:
            v[f"{layer}.builder_s"] = sum(b for b, _, _ in rows) / k
            v[f"{layer}.run_s"] = sum(r for _, r, _ in rows) / k
            v[f"{layer}.jobs"] = sum(j for *_, j in rows) / k
    published = getattr(workload, "published", [])
    v["operators.artifacts.published"] = sum(published) / max(len(published), 1)

    all_jobs = [j for op in ops for x in tracer.subtree(op, kids) for j in x.jobs]
    v["spark.jobs"] = len(all_jobs) / n
    v["spark.stages"] = sum(j[2] for j in all_jobs) / n
    v["spark.tasks"] = sum(j[3] for j in all_jobs) / n
    v["spark.failed_tasks"] = sum(j[4] for j in all_jobs) / n
    v["spark.driver_only_s"] = sum(
        sp.driver_only_s(op, tracer.subtree(op, kids)) for op in ops) / n
    v["trace.overhead_s"] = tracer.overhead_s / n
    v["trace.op_s.p50"] = median(ctx.latencies)
    return {name: (float(v[name]), unit) for name, unit in metric_names()}


def self_times(tracer: sp.Tracer) -> list[tuple[str, float, float]]:
    """(span name, total time, total self time), largest self time first."""
    kids = tracer.children()
    tot: dict[str, list[float]] = defaultdict(lambda: [0.0, 0.0])
    for s in tracer.spans:
        tot[s.name][0] += s.dur
        tot[s.name][1] += tracer.self_time(s, kids)
    return sorted(((k, a, b) for k, (a, b) in tot.items()), key=lambda r: -r[2])
