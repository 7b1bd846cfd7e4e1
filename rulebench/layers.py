"""Per-layer metrics of a traced run, from the spans the workloads and
the hooks below record.

Layers and the spans that measure them:

- compile: ``compile.expand`` / ``compile.probe`` around the compiler's
  ``expand_rules`` and ``probe_types`` as the operators call them;
- build: ``build.runner`` / ``build.engine`` / ``build.folder`` around the
  public ``add_*`` calls (self time, i.e. without compile);
- load: ``load`` around ``read_*_from_df`` and ``integrate_*``;
- plan: ``plan`` around ``queryExecution().executedPlan()``;
- exec: every ``exec.*`` span, one per Spark action;
- sparkless: ``sparkless.init`` around ``RowProcessor(...)`` and
  ``exec.process`` around ``RowProcessor.process``;
- llm: ``llm.construct`` around building the curation frame (its eager
  jobs included) and ``exec.collect`` for the action that runs it.

Each value is a total per traced operation that exercised the layer
(``_LAYER_SPANS``), so on a mixed workload the engine's build time is
per engine operation, not diluted by the other kinds.
"""

from __future__ import annotations

import contextlib
from collections import defaultdict
from typing import Dict, Iterator

from .tracing import COUNTERS, Tracer, patched, self_times

UNITS = {
    "compile.expand_s": "s",
    "compile.probe_s": "s",
    "compile.rules": "count",
    "build.runner_s": "s",
    "build.engine_s": "s",
    "build.folder_s": "s",
    "build.jobs": "count",
    "load.read_rules_s": "s",
    "load.jobs": "count",
    "plan.optimize_s": "s",
    "plan.analyzed_chars": "chars",
    "plan.wscg_subtrees": "count",
    "exec.wall_s": "s",
    "exec.write_s": "s",
    "exec.read_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.output_bytes": "bytes",
    "exec.core_utilization": "ratio",
    "sparkless.init_s": "s",
    "sparkless.process_s": "s",
    "sparkless.jobs_per_batch": "count",
    "sparkless.tasks_per_batch": "count",
    "llm.construct_s": "s",
    "llm.construct_jobs": "count",
    "llm.exec_s": "s",
    "llm.udf_s": "s",
    "trace.overhead_pct": "%",
}


@contextlib.contextmanager
def hooks(tracer: Tracer) -> Iterator[None]:
    """Spans around the compiler entry points the operators call, and
    around the connected-components step inside ``dedup_keep_list``."""
    from quality_spark.llm import dedup
    from quality_spark.operators import runner

    targets = [
        (runner, "expand_rules", "compile.expand"),
        (runner, "probe_types", "compile.probe"),
        (dedup, "connected_components", "llm.components"),
    ]
    with patched(tracer, targets):
        yield


#: the spans whose presence marks an operation as exercising a metric's
#: layer; each metric is averaged over those traced operations
_LAYER_SPANS = {
    "compile.": ("compile.expand",),
    "build.runner_s": ("build.runner",),
    "build.engine_s": ("build.engine",),
    "build.folder_s": ("build.folder",),
    "build.jobs": ("build.runner", "build.engine", "build.folder"),
    "load.": ("load",),
    "plan.": ("plan",),
    "exec.write_s": ("exec.write",),
    "exec.read_s": ("exec.read",),
    "exec.": ("exec.write", "exec.read", "exec.process", "exec.collect"),
    "sparkless.init_s": ("sparkless.init",),
    "sparkless.": ("exec.process",),
    "llm.": ("llm.construct",),
}


def _layer_spans(metric: str):
    for key in (metric, metric[: metric.index(".") + 1]):
        if key in _LAYER_SPANS:
            return _LAYER_SPANS[key]
    raise KeyError(metric)


def metrics(tracer: Tracer, traced_ops, lat, cores: int) -> Dict[str, dict]:
    """Per-layer values from the spans of the traced operations: each
    is a total per traced operation that exercised the layer."""
    spans = tracer.op_spans(set(traced_ops))
    dur: Dict[str, float] = defaultdict(float)
    own: Dict[str, float] = defaultdict(float)
    cnt: Dict[str, float] = defaultdict(float)
    ops: Dict[str, set] = defaultdict(set)
    for s, st in zip(spans, self_times(spans)):
        ops[s.name].add(s.op)
        dur[s.name] += s.duration
        own[s.name] += st
        for k, v in s.counters.items():
            cnt[f"{s.name}:{k}"] += v
            if s.name.startswith("exec.") and k in COUNTERS:
                cnt[f"exec:{k}"] += v
    exec_s = sum(v for k, v in dur.items() if k.startswith("exec."))
    totals = {
        "compile.expand_s": dur["compile.expand"],
        "compile.probe_s": dur["compile.probe"],
        "compile.rules": cnt["compile.expand:items"],
        "build.runner_s": own["build.runner"],
        "build.engine_s": own["build.engine"],
        "build.folder_s": own["build.folder"],
        "build.jobs": sum(cnt[f"build.{b}:jobs"] for b in ("runner", "engine", "folder")),
        "load.read_rules_s": dur["load"],
        "load.jobs": cnt["load:jobs"],
        "plan.optimize_s": dur["plan"],
        "plan.analyzed_chars": cnt["plan:analyzed_chars"],
        "plan.wscg_subtrees": cnt["plan:wscg_subtrees"],
        "exec.wall_s": exec_s,
        "exec.write_s": dur["exec.write"],
        "exec.read_s": dur["exec.read"],
        **{f"exec.{k}": cnt[f"exec:{k}"] for k in COUNTERS},
        "sparkless.init_s": dur["sparkless.init"],
        "sparkless.process_s": dur["exec.process"],
        "sparkless.jobs_per_batch": cnt["exec.process:jobs"],
        "sparkless.tasks_per_batch": cnt["exec.process:tasks"],
        "llm.construct_s": dur["llm.construct"],
        "llm.construct_jobs": cnt["llm.construct:jobs"],
        "llm.exec_s": dur["exec.collect"],
        "llm.udf_s": cnt["exec.collect:udf_s"],
    }
    values = {}
    for k, v in totals.items():
        n = len(set().union(*(ops[name] for name in _layer_spans(k))))
        values[k] = v / n if n else 0.0
    values["exec.core_utilization"] = cnt["exec:run_ms"] / (1000 * exec_s * cores) if exec_s else 0.0
    traced, untraced = sum(lat[True]), sum(lat[False])
    values["trace.overhead_pct"] = 100 * (traced / untraced - 1) if untraced else 0.0
    return {k: {"value": values[k], "unit": u} for k, u in UNITS.items()}
