"""Traced units: spans at the public layer boundaries, plus Spark task
metrics per span read back by job group.

The wrappers are installed from here only, around one timed unit at a
time, by rebinding module and class attributes; the program itself is
unchanged.  Each span opens its own Spark job group, so every job is
charged to the innermost span that was open when it ran.  Spark is lazy:
a layer's executor work runs inside the commit that forces it, so a
``StagedPipeline.stage`` span is named after the layer that owns the
stage (see ``stage_layer``).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

from kgbench.workloads import dir_bytes
from mhdb_tables2turtles_spark.operators import serialize
from mhdb_tables2turtles_spark.web import canonicalize, pipeline, vocab
from mhdb_tables2turtles_spark.web.materialize import StagedPipeline

LAYERS = (
    "web.vocab",
    "web.extract",
    "web.mentions.scan",
    "web.linking",
    "web.mentions.triples",
    "web.canonicalize",
    "operators.serialize",
    "web.pipeline.update",
    "web.materialize",
)
LAYER_METRICS = (
    ("wall_s", "s"), ("self_s", "s"), ("rows_out", "rows"),
    ("bytes_written", "bytes"), ("exec_run_s", "s"), ("exec_cpu_s", "s"),
    ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
    ("gc_s", "s"), ("tasks_failed", "count"),
)
RATIOS = (
    ("web.mentions.scan.rows_per_page", "rows/page"),
    ("web.linking.ambiguous_share", "fraction"),
    ("web.canonicalize.rewrite_amp", "ratio"),
    ("web.materialize.commits", "count"),
    ("web.materialize.driver_s", "s"),
    ("web.materialize.bytes_per_page", "bytes/page"),
)
_STAGE_LAYERS = {
    "extract": "web.extract",
    "mentions": "web.mentions.scan",
    "linked": "web.linking",
    "triples": "web.mentions.triples",
    "canonical": "web.canonicalize",
}

# (module, attribute, layer) of every wrapped public function.
# pipeline.py binds its helpers by name at import, so they are wrapped
# where pipeline.py looks them up; merge_components reaches
# connected_components through its own module.
_CALLS = (
    (vocab, "vocabulary_frame", "web.vocab"),
    (vocab, "entity_profiles", "web.vocab"),
    (pipeline, "extract_text_col", "web.extract"),
    (pipeline, "scan_mentions", "web.mentions.scan"),
    (pipeline, "link_mentions", "web.linking"),
    (pipeline, "page_entity_triples", "web.mentions.triples"),
    (pipeline, "equivalence_edges", "web.canonicalize"),
    (pipeline, "connected_components", "web.canonicalize"),
    (canonicalize, "connected_components", "web.canonicalize"),
    (pipeline, "merge_components", "web.canonicalize"),
    (pipeline, "rewrite_triples", "web.canonicalize"),
    (serialize, "write_body_shards", "operators.serialize"),
    (serialize, "resolve_used_prefixes", "operators.serialize"),
)


def stage_layer(workdir: str, name: str) -> str:
    """The layer whose work a committed stage forces."""
    if os.path.basename(workdir).startswith("epoch_"):
        return "web.pipeline.update"  # update()'s fused, single-commit chain
    if name.startswith(("canonical_", "components_")):
        return "web.canonicalize"
    return _STAGE_LAYERS.get(name, "web.materialize")


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    trace: int
    op: str  # "call", "stage", "incremental_stage", "read" or "unit"
    end: float = 0.0
    group: str = ""
    attrs: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)  # task metrics of the group


class Tracer:
    def __init__(self, spark, out_path: str):
        self.sc = spark.sparkContext
        self.out_path = out_path
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.unit_start = 0
        self.trace_id = 0
        self.units: list[dict] = []  # per traced unit: metric -> value
        self._saved: list = []

    # --------------------------------------------------------- spans

    def _open(self, name: str, op: str, **attrs) -> int:
        sid = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        span = Span(name, 0.0, parent, self.trace_id, op, attrs=attrs)
        span.group = f"kgbench-{self.trace_id}-{sid}"
        self.spans.append(span)
        self.stack.append(sid)
        self.sc.setJobGroup(span.group, f"{op} {name}")
        span.start = time.monotonic()
        return sid

    def _close(self, sid: int) -> None:
        span = self.spans[sid]
        span.end = time.monotonic()
        self.stack.pop()
        parent = self.spans[self.stack[-1]].group if self.stack else None
        self.sc.setLocalProperty("spark.jobGroup.id", parent)

    def _wrap_call(self, fn, layer: str):
        tracer = self

        def traced(*args, **kwargs):
            sid = tracer._open(layer, "call", fn=fn.__name__)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(sid)
            span = tracer.spans[sid]
            if isinstance(out, (pd.DataFrame, list)):
                span.attrs["rows"] = len(out)  # vocabulary frames, prefix pairs
            if fn.__name__ == "write_body_shards":
                span.attrs["path"] = args[1] if len(args) > 1 else kwargs["path"]
            return out

        return traced

    def _wrap_stage(self, fn, op: str):
        tracer = self

        def traced(staged, name, *args, **kwargs):
            layer = stage_layer(staged.workdir, name)
            if op == "read":
                layer = "web.materialize"
            path = os.path.join(staged.workdir, name)
            attrs = {"stage": name, "path": path,
                     "computed": op != "read" and not staged.is_committed(name)}
            if op == "incremental_stage":
                layer = "web.materialize"
                attrs["bytes_before"] = dir_bytes(path)
                attrs["rows_before"] = (
                    staged.manifest(name)["rows"] if staged.is_committed(name) else 0
                )
            sid = tracer._open(layer, op, **attrs)
            try:
                return fn(staged, name, *args, **kwargs)
            finally:
                tracer._close(sid)

        return traced

    # --------------------------------------------------------- units

    def begin_unit(self) -> None:
        """Install the wrappers and open the unit's root span."""
        self.trace_id += 1
        self.unit_start = len(self.spans)
        for owner, attr, layer in _CALLS:
            fn = getattr(owner, attr)
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap_call(fn, layer))
        for op in ("stage", "incremental_stage", "read"):
            fn = getattr(StagedPipeline, op)
            self._saved.append((StagedPipeline, op, fn))
            setattr(StagedPipeline, op, self._wrap_stage(fn, op))
        self._open("unit", "unit")

    def end_unit(self, result: dict | None, pages: int) -> None:
        """Close the root span, remove the wrappers, then (outside the
        timed unit) read counts, bytes and task metrics per span.  A unit
        that raised (``result`` None) keeps its spans but no metrics."""
        while self.stack:
            self._close(self.stack[-1])
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()
        if result is None:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        spans = self.spans[self.unit_start:]
        for span in spans:
            span.spark = self._group_metrics(span.group)
            self._counts(span)
        self.units.append(self._aggregate(spans, result, pages))

    def _counts(self, span: Span) -> None:
        a = span.attrs
        if span.op == "stage" and a["computed"]:
            with open(os.path.join(a["path"], "_STAGE_MANIFEST.json")) as f:
                a["rows"] = json.load(f)["rows"]
            a["bytes"] = dir_bytes(a["path"])
        elif span.op == "incremental_stage":
            with open(os.path.join(a["path"], "_STAGE_MANIFEST.json")) as f:
                a["rows"] = json.load(f)["rows"] - a.pop("rows_before")
            a["bytes"] = dir_bytes(a["path"]) - a.pop("bytes_before")
        elif a.get("fn") == "write_body_shards":
            a["bytes"] = dir_bytes(a["path"])
            blocks = 0
            for name in os.listdir(a["path"]):
                if name.startswith("part-"):
                    with open(os.path.join(a["path"], name), "rb") as f:
                        blocks += f.read().count(b" .\n")
            a["rows"] = blocks

    def _group_metrics(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        m = dict.fromkeys(
            ("job_s", "exec_run_s", "exec_cpu_s", "shuffle_read_mb",
             "shuffle_write_mb", "spill_mb", "gc_s", "tasks_failed"), 0.0)
        stage_ids = set()
        for jid in tracker.getJobIdsForGroup(group):
            job = store.job(jid)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                m["job_s"] += (
                    job.completionTime().get().getTime()
                    - job.submissionTime().get().getTime()
                ) / 1000
            info = tracker.getJobInfo(jid)
            stage_ids.update(info.stageIds if info else ())
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            m["exec_run_s"] += st.executorRunTime() / 1000
            m["exec_cpu_s"] += st.executorCpuTime() / 1e9
            m["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
            m["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            m["spill_mb"] += st.diskBytesSpilled() / 2**20
            m["gc_s"] += st.jvmGcTime() / 1000
            m["tasks_failed"] += st.numFailedTasks()
        return m

    def _aggregate(self, spans: list[Span], result: dict, pages: int) -> dict:
        base = self.unit_start
        out = {f"{layer}.{m}": 0.0 for layer in LAYERS for m, _ in LAYER_METRICS}
        children: dict[int, float] = {}
        subtree_job_s: dict[int, float] = {}
        for i in range(len(spans) - 1, -1, -1):  # children before parents
            span = spans[i]
            sid = base + i
            subtree_job_s[sid] = subtree_job_s.get(sid, 0.0) + span.spark["job_s"]
            if span.parent is not None:
                children[span.parent] = children.get(span.parent, 0.0) + span.end - span.start
                subtree_job_s[span.parent] = subtree_job_s.get(span.parent, 0.0) + subtree_job_s[sid]
        rows: dict[str, int] = {}
        driver_s = commits = written = 0.0
        for i, span in enumerate(spans):
            sid = base + i
            if span.op == "unit":
                continue
            dur = span.end - span.start
            key = span.name
            ancestors = self._ancestors(span)
            if key not in ancestors:
                out[f"{key}.wall_s"] += dur
            out[f"{key}.self_s"] += dur - children.get(sid, 0.0)
            out[f"{key}.rows_out"] += span.attrs.get("rows", 0)
            out[f"{key}.bytes_written"] += span.attrs.get("bytes", 0)
            for m in ("exec_run_s", "exec_cpu_s", "shuffle_read_mb",
                      "shuffle_write_mb", "spill_mb", "gc_s", "tasks_failed"):
                out[f"{key}.{m}"] += span.spark[m]
            if span.op in ("stage", "incremental_stage", "read"):
                if "web.materialize" not in ancestors and key != "web.materialize":
                    out["web.materialize.wall_s"] += dur
                if span.op != "read" and span.attrs["computed"]:
                    commits += 1
                    driver_s += dur - subtree_job_s[sid]
                    written += span.attrs.get("bytes", 0)
                    rows[span.attrs["stage"]] = span.attrs.get("rows", 0)
        out["web.materialize.bytes_written"] = written
        out["web.materialize.rows_out"] = sum(rows.values())
        out["web.materialize.commits"] = commits
        out["web.materialize.driver_s"] = driver_s
        out["web.materialize.bytes_per_page"] = written / pages

        counts = result["linked"].agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_ambiguous").cast("long")).alias("amb"),
        ).first()
        out["web.linking.ambiguous_share"] = (counts.amb or 0) / max(counts.n, 1)
        n_mentions = rows.get("mentions")
        if n_mentions is None:  # update(): the scan is not committed
            n_mentions = result["mentions"].count()
        out["web.mentions.scan.rows_per_page"] = n_mentions / pages
        canon = [r for s, r in rows.items() if s.startswith("canonical")]
        new = rows.get("triples", 0)
        out["web.canonicalize.rewrite_amp"] = sum(canon) / new if new else 0.0
        out["layers"] = {s.name for s in spans}
        if commits:
            out["layers"].add("web.materialize")
        return out

    def _ancestors(self, span: Span) -> set[str]:
        names = set()
        while span.parent is not None:
            span = self.spans[span.parent]
            names.add(span.name)
        return names

    # --------------------------------------------------------- report

    def report(self, plain: list, traced: list) -> dict:
        """Per-layer metrics as medians over the traced units in which
        the layer ran (0 where it never ran), plus the traced-vs-plain
        unit figures; writes the spans out."""
        os.makedirs(os.path.dirname(self.out_path), exist_ok=True)
        with open(self.out_path, "w") as f:
            for span in self.spans:
                f.write(json.dumps(span.__dict__) + "\n")
        out = {}
        for layer in LAYERS:
            ran = [u for u in self.units if layer in u["layers"]]
            for m, unit in LAYER_METRICS:
                key = f"{layer}.{m}"
                out[key] = (_median([u[key] for u in ran]) if ran else 0.0, unit)
        for key, unit in RATIOS:
            out[key] = (_median([u[key] for u in self.units]), unit)
        t_plain = _median([u.seconds for u in plain])
        t_traced = _median([u.seconds for u in traced])
        out["tracing.pages_per_s"] = (_median([u.pages / u.seconds for u in traced]), "pages/s")
        out["tracing.untraced_pages_per_s"] = (_median([u.pages / u.seconds for u in plain]), "pages/s")
        out["tracing.epoch_s"] = (t_traced, "s")
        out["tracing.untraced_epoch_s"] = (t_plain, "s")
        out["tracing.overhead_ratio"] = (t_traced / t_plain, "ratio")
        return out


def _median(xs):
    xs = [x for x in xs if x == x]  # failed units carry NaN
    return statistics.median(xs) if xs else float("nan")
