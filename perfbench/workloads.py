"""The benchmark's workloads. Each is one closed-loop client: a single
driver thread that issues its next call only after the previous one
returns.

A workload has six parts:

- ``generate``     write the seeded inputs (benchmark code, untimed);
- ``prepare``      the program-side set-up after a fresh session (timed,
                   repeated, reported as ``setup_s``);
- ``warm_up``      one untimed cycle over small inputs of the same shape,
                   which pays the process's one-time costs (code
                   generation, JIT, Python worker start) before timing;
- ``one_pass``     one fixed cycle of ops, timed op by op;
- ``final_check``  correctness checks, after the timer stops;
- ``layer_probes`` traced runs only: per-layer measurements that need a
                   call of their own.

Why these two: ``suite_sf01`` is bound by fixed per-query costs (Python
plan building, Catalyst, job scheduling, eager pins); ``crawl_corpus``
drives the CLI's crawl-to-corpus path (codecs, WARC framing, HTML
extraction, MinHash, archive writing), where at 300 pages fixed
per-stage costs dominate too and per-record work is under a tenth of a
pass. ``EntityTableMix`` drives the versioned entity table, the only
path that writes as well as reads; it runs as a probe of ``suite_sf01``'s
traced runs.
"""

from __future__ import annotations

import contextlib
import functools
import gzip
import io
import json
import os
import shutil
import time

import gen


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _catalyst_ms(df) -> dict:
    """Analysis / optimization / planning ms of ``df``'s own query
    execution, planning it first if no action has yet."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[ph] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# --------------------------------------------------------- result compare --

@functools.cache
def _check_correctness():
    """The repository's oracle harness, ``tools/check_correctness.py``,
    loaded by path: the benchmark compares results by its rule."""
    import importlib.util

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare_results(s_cols, s_rows, o_cols, o_rows) -> str | None:
    """Order-insensitive comparison of two result sets by
    ``tools/check_correctness.py``'s rule: same column names, same row
    count, and row by row the same values (floats to 1e-9). Returns
    ``None`` when they agree, else the first difference."""
    cc = _check_correctness()
    sc, sr = cc._norm_rows(s_cols, s_rows)
    oc, orr = cc._norm_rows(o_cols, o_rows)
    if sc != oc:
        return f"columns {sc} != {oc}"
    if len(sr) != len(orr):
        return f"row count {len(sr)} != {len(orr)}"
    for a, b in zip(sr, orr):
        if not all(cc._values_equal(x, y) for x, y in zip(a, b)):
            return f"row {a} != {b}"
    return None


# ------------------------------------------------------------ suite_sf01 --

#: The timed query set: seven oracle-backed suite queries across the query
#: modules (relational, kv-store join, text, operator, versioned cells,
#: vectors, MinHash dedup with its eager pin). A full 100-query pass at
#: sf0.1 takes ~100 s on 4 cores; a run has room for three passes of
#: these seven after their warm-up.
SUITE_QUERIES = (
    "distinct_segments", "kvstore_lookup_join", "wordcount_top50",
    "mapreduce_event_stats", "versioned_slice_maxversions",
    "embedding_label_cosine_stats", "dedup_minhash_pairs",
)


class SuiteWorkload:
    name = "suite_sf01"
    sf = 0.1
    #: set-ups per run; ``setup_s`` is their median
    setup_reps = 3

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.data = os.path.join(work, "sf")
        self.warm_data = os.path.join(work, "sf_warm")
        self.input_stats: dict = {}
        self.results: dict = {}

    def generate(self) -> dict:
        self.input_stats = {"sf": self.sf, "queries": list(SUITE_QUERIES),
                            "rows": gen.tables(self.data, self.seed, self.sf)}
        gen.tables(self.warm_data, self.seed, 0.002)
        return self.input_stats

    def warm_up(self, spark) -> None:
        from kiji_mapreduce_spark import suite

        for name in SUITE_QUERIES:
            suite.QUERIES[name](spark, self.warm_data).collect()

    def prepare(self, spark) -> None:
        from kiji_mapreduce_spark.session import load_tables
        load_tables(spark, self.data)

    def one_pass(self, spark, tracer, detail: dict | None = None) -> list:
        from kiji_mapreduce_spark import suite

        ops = []
        for name in SUITE_QUERIES:
            fn = suite.QUERIES[name]
            t0 = time.perf_counter()
            with tracer.span(f"suite.build:{name}", "suite"):
                df = fn(spark, self.data)
            if detail is not None:
                detail.setdefault("build_ms", []).append(
                    (time.perf_counter() - t0) * 1000)
            with tracer.span(f"spark.action:{name}", "spark"):
                rows = [tuple(r) for r in df.collect()]
            ops.append((name, time.perf_counter() - t0))
            self.results.setdefault(name, (df.columns, rows))
            if detail is not None:
                for ph, ms in _catalyst_ms(df).items():
                    detail.setdefault(ph, []).append(ms)
        return ops

    def final_check(self, spark) -> list:
        """Each query's first result against its DuckDB oracle over the
        same files: same columns, row count and values, in any order."""
        import duckdb
        from kiji_mapreduce_spark import suite

        failures = []
        with duckdb.connect() as con:
            for t in self.input_stats["rows"]:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.data, t)}.parquet'")
            for name in SUITE_QUERIES:
                cols, rows = self.results[name]
                res = con.execute(suite.ORACLES[name]).arrow()
                diff = compare_results(
                    cols, rows, res.schema.names,
                    [tuple(r.values()) for r in res.to_pylist()])
                if diff is None and not rows:
                    diff = "empty result"
                if diff is not None:
                    failures.append(f"{name}: {diff}")
        return failures

    def layer_probes(self, spark, tracer) -> dict:
        """The entity-table op mix (``EntityTableMix``): one warm-up
        cycle, then one traced cycle under a ``table.probe`` span."""
        mix = EntityTableMix(os.path.join(self.work, "entity"), self.seed)
        mix.generate()
        mix.prepare(spark)
        mix.warm_up(spark)
        with tracer.span("table.probe", "table.probe"):
            ops = mix.one_pass(spark, tracer)
        failures = mix.final_check(spark)
        return {"table": {"ops": ops,
                          "buckets_rewritten": mix.buckets_rewritten,
                          "put_bytes": mix.put_bytes,
                          "bytes_stored_per_cell": mix.bytes_per_cell()},
                "failures": [f"table probe: {f}" for f in failures]}


# ---------------------------------------------------------- crawl_corpus --

#: the README's crawl -> corpus recipe, one CLI call per stage
CRAWL_STAGES = ("crawl-ingest", "curate", "dedup-index", "warc-pack")


def _read_warc_uris(path: str) -> dict[str, bytes]:
    """Target URI -> record bytes of every record in a gzip-member WARC
    file (the packed output), parsed here rather than by the package."""
    with gzip.open(path, "rb") as f:
        data = f.read()
    out, pos = {}, 0
    while pos < len(data):
        head_end = data.index(b"\r\n\r\n", pos)
        head = data[pos:head_end].decode()
        fields = dict(line.split(": ", 1) for line in head.split("\r\n")[1:])
        end = head_end + 4 + int(fields["Content-Length"]) + 4
        out[fields["WARC-Target-URI"]] = data[pos:end]
        pos = end
    return out


class CrawlWorkload:
    name = "crawl_corpus"
    n_docs = 300
    #: a set-up here is a session restart (~0.6 s), which a neighbour on
    #: the host easily doubles: many of them keep their median steady
    setup_reps = 7

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.warc = os.path.join(work, "warc")
        self.out = os.path.join(work, "corpus")
        self.warm_warc = os.path.join(work, "warc_warm")
        self.input_stats: dict = {}
        self.stage_stats: dict = {}

    def generate(self) -> dict:
        manifest = gen.warc_corpus(self.warc, self.seed, self.n_docs)
        self.pages = manifest.pop("pages")
        self.input_stats = manifest
        gen.warc_corpus(self.warm_warc, self.seed, 96)
        return manifest

    def prepare(self, spark) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def warm_up(self, spark) -> None:
        from harness import NullTracer
        self._recipe(NullTracer(), self.warm_warc,
                     os.path.join(self.work, "corpus_warm"))

    @staticmethod
    def _argv(stage: str, warc: str, o: str) -> list[str]:
        return {
            "crawl-ingest": ["crawl-ingest", "--input", warc,
                             "--output", f"{o}/docs"],
            "curate": ["curate", "--input", f"{o}/docs", "--output",
                       f"{o}/clean", "--near-threshold", "0.8"],
            "dedup-index": ["dedup-index", "--mode", "build", "--input",
                            f"{o}/clean", "--index", f"{o}/index"],
            "warc-pack": ["warc-pack", "--from-warc", "--input", warc,
                          "--keep-ids", f"{o}/clean", "--output",
                          f"{o}/packed"],
        }[stage]

    def _recipe(self, tracer, warc: str, out: str) -> list:
        from kiji_mapreduce_spark import cli

        ops = []
        for stage in CRAWL_STAGES:
            buf = io.StringIO()
            t0 = time.perf_counter()
            with tracer.span(f"workload.{stage}", "workload"), \
                    contextlib.redirect_stdout(buf):
                rc = cli.main(self._argv(stage, warc, out))
            ops.append((stage, time.perf_counter() - t0))
            if rc not in (0, None):
                raise RuntimeError(f"{stage} exited {rc}")
            lines = [ln for ln in buf.getvalue().splitlines()
                     if ln.startswith("{")]
            self.stage_stats[stage] = json.loads(lines[-1]) if lines else {}
        return ops

    def one_pass(self, spark, tracer, detail: dict | None = None) -> list:
        return self._recipe(tracer, self.warc, self.out)

    def final_check(self, spark) -> list:
        """Ingest keeps every page; curate keeps exactly one page of each
        planted duplicate group and every unique page; the index holds the
        survivors; the packed archive holds exactly the survivors' records,
        byte for byte."""
        failures = []
        urls = [p["url"] for p in self.pages]
        ingested = {r.url for r in spark.read.parquet(
            f"{self.out}/docs").select("url").collect()}
        if ingested != set(urls):
            failures.append(f"ingest: {len(ingested)} urls, expected "
                            f"{len(urls)}")
        clean = [r.url for r in spark.read.parquet(
            f"{self.out}/clean").select("url").collect()]
        index = {u: i for i, u in enumerate(urls)}
        groups: dict[int, int] = {}
        for u in clean:
            if u not in index:
                failures.append(f"curate: unknown survivor {u}")
                continue
            i = index[u]
            root = i if self.pages[i]["dup_of"] is None \
                else self.pages[i]["dup_of"]
            groups[root] = groups.get(root, 0) + 1
        n_groups = sum(1 for p in self.pages if p["dup_of"] is None)
        if len(groups) != n_groups or any(c != 1 for c in groups.values()):
            failures.append(f"curate: {len(clean)} survivors over "
                            f"{len(groups)} groups, expected one in each "
                            f"of {n_groups}")
        n_index = self.stage_stats.get("dedup-index", {}).get("rows")
        if n_index != len(clean):
            failures.append(f"dedup-index: {n_index} rows, expected "
                            f"{len(clean)}")
        packed: dict[str, bytes] = {}
        for name in sorted(os.listdir(f"{self.out}/packed")):
            if name.endswith(".warc.gz"):
                packed.update(_read_warc_uris(f"{self.out}/packed/{name}"))
        if set(packed) != set(clean):
            failures.append(f"warc-pack: {len(packed)} records, expected "
                            f"{len(clean)}")
        elif any(packed[u] != gen.warc_record(self.pages[index[u]], index[u],
                                              self.seed) for u in clean):
            failures.append("warc-pack: records changed")
        return failures

    def layer_probes(self, spark, tracer) -> dict:
        from kiji_mapreduce_spark.io import zstd_codec
        from kiji_mapreduce_spark.io.inputs import (read_warc_raw,
                                                    read_warc_records)
        from kiji_mapreduce_spark.io.outputs import write_warc
        from kiji_mapreduce_spark.pipeline import dedup

        out = {}
        t0 = time.perf_counter()
        with tracer.span("io.warc_read", "io"):
            df = read_warc_records(spark, [self.warc])
            out["catalyst"] = _catalyst_ms(df)
            _noop(df)
        out["io.warc_read_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tracer.span("io.warc_write", "io"):
            write_warc(read_warc_raw(spark, [self.warc]),
                       f"{self.out}/probe_packed", raw_col="record")
        out["io.warc_write_s"] = time.perf_counter() - t0
        zst = sorted(n for n in os.listdir(self.warc) if n.endswith(".zst"))
        with open(os.path.join(self.warc, zst[0]), "rb") as f:
            blob = f.read()
        t0 = time.perf_counter()
        with tracer.span("io.zstd_codec.decode", "io.zstd_codec"):
            n_out = len(zstd_codec.decompress(blob))
        out["io.zstd_codec.decode_MBps"] = (
            n_out / 2**20 / (time.perf_counter() - t0))
        docs = spark.read.parquet(f"{self.out}/docs")
        with tracer.span("pipeline.dedup.probe", "pipeline.dedup"):
            out["pipeline.dedup.candidate_pairs"] = \
                dedup.minhash_lsh_candidates(docs).count()
            out["pipeline.dedup.verified_pairs"] = \
                dedup.minhash_dedup(docs, threshold=0.8).count()
        return out


# ------------------------------------------------------ entity table mix --

ENTITY_LAYOUT = """
{"name": "users",
 "row_key": {"format": "FORMATTED",
             "components": [{"name": "key", "type": "string"}]},
 "families": [
   {"name": "info", "kind": "group", "max_versions": 100000,
    "columns": [{"name": "email", "schema": "string"},
                {"name": "visits", "schema": "long"},
                {"name": "score", "schema": "long"}]},
   {"name": "tags", "kind": "map", "map_schema": "string",
    "max_versions": 100000}]}
"""

PUT_SCHEMA = ("entity_id struct<key:string>, family string, "
              "qualifier string, ts long, value_str string")
N_USERS = 1500


def _typed(qualifier: str, value: str):
    """A put's string value as the table stores it (``visits`` is long)."""
    return int(value) if qualifier == "visits" else value


def _email(i: int) -> str:
    return f"user{i:05d}@" + ("x" * (i % 7)) + "example.org"


class _Model:
    """A plain-Python replay of the table: key -> (family, qualifier) ->
    {ts: value}. Puts insert a version; an equal ts overwrites."""

    def __init__(self):
        self.cells: dict[str, dict[tuple[str, str], dict[int, object]]] = {}

    def put(self, key, fam, qual, ts, value) -> None:
        self.cells.setdefault(key, {}).setdefault((fam, qual), {})[ts] = value

    def produce(self, key, ts) -> None:
        email = self.cells[key][("info", "email")]
        self.put(key, "info", "score", ts, len(email[max(email)]))

    def row(self, key) -> dict:
        return {fq: sorted(v.items(), reverse=True)
                for fq, v in self.cells.get(key, {}).items()}

    def n_cells(self) -> int:
        return sum(len(v) for r in self.cells.values() for v in r.values())


def _row_cells(row) -> dict:
    """A fetched table row as the model's shape."""
    out = {}
    for q in ("email", "visits", "score"):
        cells = row["info"][q] if row["info"] is not None else None
        if cells:
            out[("info", q)] = [(c.ts, c.value) for c in cells]
    for q, cells in (row["tags"] or {}).items():
        if cells:
            out[("tags", q)] = [(c.ts, c.value) for c in cells]
    return out


def _score_producer(ts: int):
    from pyspark.sql import functions as F

    from kiji_mapreduce_spark.cells import latest_value
    from kiji_mapreduce_spark.operators import Producer

    class EmailLength(Producer):
        def output_column(self):
            return "info:score"

        def produce_expr(self, df, ctx):
            return F.length(latest_value(F.col("info.email"))).cast("long")

        def produce_ts(self, df, ctx):
            return F.lit(ts).cast("long")

    return EmailLength()


class EntityTableMix:
    """A seeded op mix against an ``EntityTable`` with a FORMATTED key over
    1,500 users, a versioned group family and a map family: ``get``,
    ``put_delta`` batches, ``flush_deltas``, ``merge_put``, a ``Producer``
    through ``fresh_get`` and ``produce``, and a full ``read().count()``.

    It has the workload interface, but it is not one of the benchmark's
    workloads: a run has room for two workloads in the time budget, and
    the suite and the crawl recipe are the repository's end-to-end
    numbers. ``suite_sf01``'s traced runs replay one cycle of it as the
    probe of the ``table`` and ``operators`` layers."""

    n_cycles = 1

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.path = os.path.join(work, "users_table")
        self.input_stats: dict = {}
        self.next_op = 0
        self.log: list[tuple] = []  # (op index, kind, payload, result)
        self.buckets_rewritten: list[int] = []
        self.put_bytes = 0

    def generate(self) -> dict:
        import random

        py = random.Random(self.seed)
        self.initial = []
        for i in range(N_USERS):
            key = f"user{i:05d}"
            self.initial.append((key, "info", "email", 1000, _email(i)))
            self.initial.append((key, "info", "visits", 1000,
                                 str(py.randrange(100))))
            self.initial.append((key, "tags", py.choice(gen.VOCAB), 1000,
                                 py.choice(gen.VOCAB)))
        self.ops = gen.entity_ops(self.seed, N_USERS, self.n_cycles)
        self.input_stats = {"users": N_USERS,
                            "initial_cells": len(self.initial),
                            "ops": len(self.ops),
                            "op_cycle": list(gen.OP_CYCLE)}
        return self.input_stats

    def _puts(self, spark, cells):
        return spark.createDataFrame(
            [((k,), f, q, ts, v) for k, f, q, ts, v in cells], PUT_SCHEMA)

    def _build(self, spark, path: str, cells: list):
        from kiji_mapreduce_spark.layout import TableLayout
        from kiji_mapreduce_spark.table import EntityTable

        shutil.rmtree(path, ignore_errors=True)
        table = EntityTable.create(
            spark, path, TableLayout.from_json(ENTITY_LAYOUT))
        table.merge_put(self._puts(spark, cells))
        return table

    def prepare(self, spark) -> None:
        self.table = self._build(spark, self.path, self.initial)
        self.next_op, self.log = 0, []
        self.buckets_rewritten, self.put_bytes = [], 0

    def warm_up(self, spark) -> None:
        from harness import NullTracer

        users = 50
        table = self._build(spark, os.path.join(self.work, "warm_table"),
                            self.initial[:3 * users])
        for idx, (kind, payload) in enumerate(
                gen.entity_ops(self.seed, users, 1)):
            self._run_op(spark, NullTracer(), table, idx, kind, payload)

    def _run_op(self, spark, tracer, t, idx: int, kind: str, payload):
        """One op against table ``t``; returns what the caller sees: the
        fetched rows, the row count or the rewritten buckets."""
        with tracer.span(f"workload.{kind}", "workload"):
            if kind == "get":
                df = self.last_get = t.get(payload)
                with tracer.span("spark.action", "spark"):
                    return [_row_cells(r) for r in df.collect()]
            if kind in ("put_delta", "merge_put"):
                getattr(t, kind)(self._puts(spark, payload))
                return None
            if kind == "flush_deltas":
                return t.flush_deltas()
            if kind == "fresh_get":
                ts = 10**9 + idx
                df = t.fresh_get((payload,), _score_producer(ts),
                                 max_age_ms=0, now_ms=ts + 1)
                with tracer.span("spark.action", "spark"):
                    return [_row_cells(r) for r in df.collect()]
            if kind == "produce":
                t.produce(_score_producer(10**9 + idx))
                return None
            df = t.read()
            with tracer.span("spark.action", "spark"):
                return df.count()

    def one_pass(self, spark, tracer, detail: dict | None = None) -> list:
        ops = []
        for _ in gen.OP_CYCLE:
            idx = self.next_op
            kind, payload = self.ops[idx]
            self.next_op += 1
            t0 = time.perf_counter()
            result = self._run_op(spark, tracer, self.table, idx, kind,
                                  payload)
            ops.append((kind, time.perf_counter() - t0))
            self.log.append((idx, kind, payload, result))
            if kind == "flush_deltas":
                self.buckets_rewritten.append(len(result))
            elif kind in ("put_delta", "merge_put"):
                self.put_bytes += sum(len(k) + len(f) + len(q) + 8 + len(v)
                                      for k, f, q, _, v in payload)
            if detail is not None and kind == "get":
                for ph, ms in _catalyst_ms(self.last_get).items():
                    detail.setdefault(ph, []).append(ms)
        return ops

    def final_check(self, spark) -> list:
        """Replay the logged ops against the model; every get, fresh_get
        and count must match, and so must the final cell count."""
        model = _Model()
        for k, f, q, ts, v in self.initial:
            model.put(k, f, q, ts, _typed(q, v))
        failures = []
        for idx, kind, payload, result in self.log:
            if kind in ("put_delta", "merge_put"):
                for k, f, q, ts, v in payload:
                    model.put(k, f, q, ts, _typed(q, v))
            elif kind == "produce":
                for key in model.cells:
                    model.produce(key, 10**9 + idx)
            elif kind == "fresh_get":
                model.produce(payload, 10**9 + idx)
            if kind in ("get", "fresh_get"):
                if result != [model.row(payload)]:
                    failures.append(f"op {idx} {kind} {payload}: mismatch")
            elif kind == "count" and result != len(model.cells):
                failures.append(f"op {idx} count {result} != "
                                f"{len(model.cells)}")
        table_cells = sum(
            sum(len(v) for v in _row_cells(r).values())
            for r in self.table.read().collect())
        if table_cells != model.n_cells():
            failures.append(f"cell count {table_cells} != "
                            f"{model.n_cells()}")
        self.n_cells = table_cells
        return failures

    def bytes_per_cell(self) -> float:
        size = 0
        for root, _, files in os.walk(self.path):
            size += sum(os.path.getsize(os.path.join(root, f))
                        for f in files if not f.startswith("."))
        return size / max(1, self.n_cells)


WORKLOADS = {w.name: w for w in (SuiteWorkload, CrawlWorkload)}
