"""From timings, spans and Spark jobs to the metrics ``BENCHMARK.json``
names. ``BENCHMARK.json`` is the single list of metric names and units;
``render`` refuses to print a result that misses one or adds one.

End-to-end metrics (untraced runs): ``setup_s`` (median of the run's
set-ups), ``pass_s`` (the fastest pass of the workload's fixed op cycle),
``op_gmean_ms`` (geometric mean over the cycle's ops of each op's fastest
run: a query or a CLI stage) and ``rss_mb`` (median resident memory of the
driver, the JVM and the Python workers while the passes run, under the
program's own driver memory settings).

Per-layer metrics (traced runs) are per traced pass unless named per op.
A layer a workload never enters reads 0.
"""

from __future__ import annotations

import json
import math
import os

from harness import Span, median, self_times, tail_percentile, union_length


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def render(spec: dict, kind: str, values: dict) -> dict:
    """``values`` as ``{name: {"value", "unit"}}`` in ``spec[kind]``
    order; raises if the names differ from the spec's."""
    names = [m["name"] for m in spec[kind]]
    if set(values) != set(names):
        raise KeyError(f"{kind} metrics differ from BENCHMARK.json: "
                       f"missing {sorted(set(names) - set(values))}, "
                       f"extra {sorted(set(values) - set(names))}")
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in spec[kind]}


def probe_record(before_ms: float, after_ms: float, spec: dict) -> dict:
    """The contention probe beside the run: flagged when the after/before
    ratio strays further than the bound of ``pass_s``, since a shift in
    host speed that large could move the pass time by as much."""
    bound = next(m["bound"] for m in spec["end_to_end"]
                 if m["name"] == "pass_s")
    ratio = after_ms / before_ms
    return {"before_ms": before_ms, "after_ms": after_ms, "ratio": ratio,
            "bound": bound, "flagged": abs(ratio - 1) > bound}


def best_by_kind(ops) -> dict[str, float]:
    """Each op kind's fastest run in the run's passes, in seconds."""
    return {k: min(v) for k, v in _by_kind(ops).items()}


def end_to_end(setup_s, passes, ops, rss_mb) -> dict:
    """The timed passes still speed up as the JIT warms, and a neighbour
    on the host only ever slows one down: the fastest pass, and each op's
    fastest run, are the steadiest readings a run has. A cycle has only
    a handful of distinct ops, so their median would be one op's time;
    the geometric mean weighs every op's fixed costs alike."""
    best = best_by_kind(ops).values()
    return {"setup_s": median(setup_s),
            "pass_s": min(passes),
            "op_gmean_ms": math.exp(
                sum(math.log(b) for b in best) / len(best)) * 1000,
            "rss_mb": rss_mb}


def _by_kind(ops) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for kind, s in ops:
        out.setdefault(kind, []).append(s)
    return out


def run_record(setup_s, session_s, passes, ops, wl) -> dict:
    """What the run did, beside its metrics: set-up and pass timings, the
    op latency median and tail (with its sample count), per-op-kind
    medians and throughput."""
    lat = [s for _, s in ops]
    tail = tail_percentile(lat)
    rec = {
        "setup_s": setup_s,
        "session_start_s": session_s,
        "passes_s": passes,
        "n_ops": len(ops),
        "op_p50_ms": median(lat) * 1000,
        "op_tail": (None if tail is None else
                    {"q": tail[0], "ms": tail[1] * 1000, "n": len(lat)}),
        "op_median_ms_by_kind": {k: median(v) * 1000
                                 for k, v in _by_kind(ops).items()},
        "op_best_ms_by_kind": {k: v * 1000
                               for k, v in best_by_kind(ops).items()},
        "ops_per_s": len(ops) / sum(passes),
    }
    docs = getattr(wl, "n_docs", None)
    if docs:
        p = min(passes)
        rec["docs_per_s"] = docs / p
        rec["in_MBps"] = wl.input_stats["raw_bytes"] / 2**20 / p
    return rec


# ------------------------------------------------------- traced metrics --

class _SpanIndex:
    def __init__(self, tracer):
        self.spans: list[Span] = tracer.spans
        self.by_id = {s.id: s for s in self.spans}
        self.offset = tracer.epoch_offset

    def ancestors(self, s: Span):
        while s is not None:
            yield s
            s = self.by_id.get(s.parent) if s.parent is not None else None

    def of_job(self, job) -> Span | None:
        if not job.group or not job.group.startswith("span-"):
            return None
        return self.by_id.get(int(job.group[5:]))

    def enclosing(self, s: Span, layer: str) -> Span | None:
        return next((a for a in self.ancestors(s) if a.layer == layer), None)


#: span layers that are the benchmark's own, not the package's
_OWN_LAYERS = ("pass", "workload", "table.probe")


def layer_metrics(wl, tracer, jobs, detail, probes, passes, ops, untraced,
                  session_s, slots, probe_ms) -> dict:
    """Per-layer metrics of a traced run. ``passes`` and ``ops`` are its
    traced passes, ``untraced`` the wall times of the untraced passes run
    in turn with them, ``session_s`` its session starts and ``slots`` its
    Spark task threads."""
    idx = _SpanIndex(tracer)
    pass_spans = [s for s in idx.spans if s.layer == "pass"]
    n = max(1, len(pass_spans))
    in_pass = []
    for j in jobs:
        s = idx.of_job(j)
        if s is not None and idx.enclosing(s, "pass") is not None:
            in_pass.append((j, s))
    v: dict[str, float] = {}

    # Spark scheduler / executor, per pass
    v["spark.jobs"] = len(in_pass) / n
    v["spark.stages"] = sum(j.stages for j, _ in in_pass) / n
    v["spark.tasks"] = sum(j.tasks for j, _ in in_pass) / n
    v["spark.task_s"] = sum(j.task_s for j, _ in in_pass) / n
    v["spark.shuffle_read_mb"] = sum(j.shuffle_read_b for j, _ in in_pass) \
        / 2**20 / n
    v["spark.shuffle_write_mb"] = sum(j.shuffle_write_b for j, _ in in_pass) \
        / 2**20 / n
    v["spark.spill_mb"] = sum(j.spill_b for j, _ in in_pass) / 2**20 / n
    v["spark.python_udf_s"] = sum(j.python_s for j, _ in in_pass) / n
    # the per-record work of the crawl recipe (WARC decoding, HTML
    # extraction, MinHash) runs in Python workers: their share of the
    # pass's task-slot time bounds the share per-record work can have
    v["spark.python_udf_share"] = v["spark.python_udf_s"] / (
        _mean(passes) * slots)
    gaps = []
    for p in pass_spans:
        spans = [(max(j.start, p.start + idx.offset),
                  min(j.end, p.end + idx.offset))
                 for j, s in in_pass if idx.enclosing(s, "pass") is p]
        gaps.append(p.duration - union_length(spans))
    v["spark.driver_gap_s"] = _mean(gaps)
    pins = [j for j, _ in in_pass if j.pin]
    v["pins.jobs"] = len(pins) / n
    v["pins.task_s"] = sum(j.task_s for j in pins) / n
    cat = probes.get("catalyst") or {}
    for ph in ("analysis", "optimization", "planning"):
        v[f"spark.{ph}_ms"] = (_mean(detail[ph]) if detail.get(ph)
                               else float(cat.get(ph, 0.0)))

    # self time per layer, per pass
    selfs = self_times(idx.spans)
    for layer in ("session", "suite", "spark", "cli", "io", "io.zstd_codec",
                  "pipeline.crawl", "pipeline.curate", "pipeline.dedup",
                  "table", "operators", "workload"):
        v[f"self_s.{layer}"] = sum(
            selfs[s.id] for s in idx.spans
            if s.layer == layer
            and idx.enclosing(s, "pass") is not None) / n
    v["session.start_s"] = median(session_s)
    covered = []
    for p in pass_spans:
        named = [(s.start, s.end) for s in idx.spans
                 if s.layer not in _OWN_LAYERS
                 and idx.enclosing(s, "pass") is p]
        covered.append(union_length(named) / p.duration)
    v["trace.attributed_share"] = _mean(covered)
    v["trace.overhead_share"] = min(passes) / min(untraced) - 1
    v["probe.spin_ms"] = probe_ms

    # suite
    v["suite.build_ms"] = _mean(detail.get("build_ms", []))

    # cli stages, from the traced passes
    by_kind = _by_kind(ops)
    docs = getattr(wl, "n_docs", 0)
    for stage in ("crawl-ingest", "curate", "dedup-index", "warc-pack"):
        key = stage.replace("-", "_")
        s = _mean(by_kind.get(stage, []))
        v[f"cli.{key}_s"] = s
        v[f"cli.{key}_docs_per_s"] = docs / s if s else 0.0

    # io and pipeline
    for k in ("io.warc_read_s", "io.warc_write_s",
              "io.zstd_codec.decode_MBps", "pipeline.dedup.candidate_pairs",
              "pipeline.dedup.verified_pairs"):
        v[k] = float(probes.get(k, 0.0))
    raw = wl.input_stats.get("raw_bytes", 0)
    v["io.warc_read_MBps"] = (raw / 2**20 / v["io.warc_read_s"]
                              if v["io.warc_read_s"] else 0.0)
    cand = v["pipeline.dedup.candidate_pairs"]
    v["pipeline.dedup.verify_yield"] = (
        v["pipeline.dedup.verified_pairs"] / cand if cand else 0.0)
    for key, layer in (("pipeline.crawl.extract_s", "pipeline.crawl"),
                       ("pipeline.curate.s", "pipeline.curate")):
        v[key] = sum(s.duration for s in idx.spans if s.layer == layer
                     and idx.enclosing(s, "pass") is not None) / n

    # entity table: the op mix a suite_sf01 traced run replays as a probe
    table = probes.get("table")
    t_ops = _by_kind(table["ops"]) if table else {}
    for key, kind in (("table.get_p50_ms", "get"),
                      ("table.put_p50_ms", "put_delta"),
                      ("table.flush_p50_ms", "flush_deltas")):
        v[key] = median(t_ops[kind]) * 1000 if kind in t_ops else 0.0
    op_jobs: dict[str, list] = {}
    for j in jobs:
        s = idx.of_job(j)
        root = s is not None and idx.enclosing(s, "table.probe")
        op = root and idx.enclosing(s, "workload")
        if op:
            op_jobs.setdefault(op.name.split(".", 1)[1], []).append(j)
    for key, kind in (("table.jobs_per_get", "get"),
                      ("table.jobs_per_put", "put_delta")):
        n_ops = len(t_ops.get(kind, []))
        v[key] = len(op_jobs.get(kind, [])) / n_ops if n_ops else 0.0
    v["table.buckets_rewritten"] = _mean(table["buckets_rewritten"]) \
        if table else 0.0
    written = sum(j.bytes_written for kind in ("put_delta", "merge_put",
                                               "flush_deltas")
                  for j in op_jobs.get(kind, []))
    v["table.bytes_written_per_put_byte"] = (
        written / table["put_bytes"] if table else 0.0)
    v["table.bytes_stored_per_cell"] = (table["bytes_stored_per_cell"]
                                        if table else 0.0)
    v["operators.produce_s"] = _mean(t_ops.get("produce", []))
    return v
