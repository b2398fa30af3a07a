"""Job layer: builders, runner, counters, job history.

Mirrors the reference's job machinery Spark-first:

- ``KijiGatherJobBuilder`` etc. (``.../gather/KijiGatherJobBuilder.java``)
  -> fluent builders that validate wiring then compose a DataFrame plan;
- ``KijiMapReduceJob.run()/submit()`` (``.../KijiMapReduceJob.java:222-284``)
  -> ``Job.run()`` (blocking) / ``Job.submit()`` (thread + status poll);
- Hadoop counters + JobHistoryKijiTable
  (``.../framework/JobHistoryKijiTable.java:243-258``,
  ``job-history.avdl:24-51``) -> ``df.observe`` metrics appended to a
  ``_job_history`` parquet table.
"""

from __future__ import annotations

import json
import threading
import time
import uuid
import warnings
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from kiji_mapreduce_spark.io.inputs import read_parquet
from kiji_mapreduce_spark.io.outputs import JobOutput
from kiji_mapreduce_spark.kvstore import bind_stores
from kiji_mapreduce_spark.operators.base import Operator, OperatorContext

JOB_HISTORY_SCHEMA = (
    "job_id string, job_name string, job_start_time long, job_end_time long, "
    "job_end_status string, job_counters string, job_configuration string"
)


@dataclass
class JobHistory:
    """Append-only parquet job-history table (default: in-session only)."""

    path: str | None = None

    def record(self, spark: SparkSession, row: dict[str, Any]) -> None:
        if not self.path:
            return
        df = spark.createDataFrame(
            [(row["job_id"], row["job_name"], row["job_start_time"],
              row["job_end_time"], row["job_end_status"],
              json.dumps(row.get("job_counters", {})),
              json.dumps(row.get("job_configuration", {})))],
            JOB_HISTORY_SCHEMA,
        )
        df.write.mode("append").parquet(self.path)

    def read(self, spark: SparkSession) -> DataFrame:
        return read_parquet(spark, self.path)


class Job:
    """A runnable job: a composed DataFrame plan + an output.

    ``run()`` blocks; ``submit()`` returns immediately and exposes
    ``is_complete()`` / ``join()`` — the reference's async submit with its
    completion-poll thread collapses to a plain thread around a blocking
    Spark action.
    """

    def __init__(self, name: str, plan: DataFrame, output: JobOutput | None,
                 observation: Observation | None = None,
                 history: JobHistory | None = None,
                 conf: dict[str, Any] | None = None,
                 out_observation: Observation | None = None,
                 counter_prefix: str = "OPERATOR"):
        self.name = name
        self.plan = plan
        self.output = output
        self.observation = observation
        self.out_observation = out_observation
        self.counter_prefix = counter_prefix
        self.history = history or JobHistory()
        self.conf = conf or {}
        self.job_id = f"job_{uuid.uuid4().hex[:12]}"
        self.counters: dict[str, Any] = {}
        #: set when the job body finished but the history-table
        #: write failed (the outcome itself is not masked)
        self.history_error: Exception | None = None
        self._thread: threading.Thread | None = None
        self._error: BaseException | None = None

    def dataframe(self) -> DataFrame:
        return self.plan

    def run(self) -> bool:
        start = int(time.time() * 1000)
        status = "SUCCEEDED"
        # RDD-API sinks (seq/map, jar-less avro) never fire the
        # QueryExecutionListener that feeds Observation, so a blocking
        # .get would hang forever (r5 review finding) — skip counters
        # for those sinks instead
        observable = (self.output is None
                      or getattr(self.output, "fires_dataset_action", True))
        try:
            if self.output is not None:
                self.output.save(self.plan)
            else:
                self.plan.count()
            if self.observation is not None and observable:
                self.counters = dict(self.observation.get)
            if self.out_observation is not None and observable:
                self.counters.update(self.out_observation.get)
                n_in = self.counters.get(
                    f"{self.counter_prefix}_ROWS_PROCESSED")
                n_out = self.counters.get(
                    f"{self.counter_prefix}_ROWS_OUT")
                # rows dropped by a row-wise operator = rejected records
                # (BulkImportMapper's RECORDS_REJECTED counter). Only
                # 1-row-in/<=1-row-out operators get it — an aggregating
                # gatherer would otherwise record rows_in - n_groups as
                # bogus "rejections" (r5 review finding)
                if (self.counter_prefix in ("PRODUCER", "BULKIMPORTER")
                        and n_in is not None and n_out is not None
                        and n_in >= n_out):
                    self.counters[
                        f"{self.counter_prefix}_RECORDS_REJECTED"] = n_in - n_out
            return True
        except BaseException:
            status = "FAILED"
            raise
        finally:
            try:
                self.history.record(self.plan.sparkSession, {
                    "job_id": self.job_id, "job_name": self.name,
                    "job_start_time": start,
                    "job_end_time": int(time.time() * 1000),
                    "job_end_status": status,
                    "job_counters": self.counters,
                    "job_configuration": self.conf,
                })
            except Exception as e:
                # never mask the job's own outcome with a history-table
                # error (the cli._record_pipeline_failure discipline):
                # an unwritable history path raising INSIDE finally
                # replaced the real failure (r13 review finding). And a
                # SUCCEEDED run's side effects are all committed by the
                # time the history row is written, so raising here
                # converted a finished job into a crash — surface the
                # bookkeeping failure as ``history_error`` + a warning
                # instead (ADVICE r13; the reference likewise logs and
                # proceeds when the history table is unusable,
                # JobHistoryKijiTable-style).
                self.history_error = e
                if status == "SUCCEEDED":
                    warnings.warn(
                        f"job {self.job_id} ({self.name}) succeeded "
                        f"but the history-table write failed: {e!r}",
                        RuntimeWarning, stacklevel=2)

    def submit(self) -> "Job":
        def _target():
            try:
                self.run()
            except BaseException as e:  # surfaced via join()
                self._error = e
        self._thread = threading.Thread(target=_target, daemon=True)
        self._thread.start()
        return self

    def is_complete(self) -> bool:
        return self._thread is not None and not self._thread.is_alive()

    def join(self, timeout: float | None = None) -> bool:
        assert self._thread is not None, "job was not submitted"
        self._thread.join(timeout)
        if self._error:
            raise self._error
        return self.is_complete()


class _JobBuilder:
    """Shared fluent-builder plumbing (validate -> compose -> Job)."""

    OPERATOR_KIND: type[Operator] = Operator

    def __init__(self):
        self._input_df: DataFrame | None = None
        self._operator: Operator | None = None
        self._output: JobOutput | None = None
        self._bindings: dict[str, Any] = {}
        self._history: JobHistory | None = None
        self._conf: dict[str, Any] = {}
        self._name: str | None = None

    def with_input(self, df: DataFrame):
        self._input_df = df
        return self

    def with_operator(self, op: Operator):
        if not isinstance(op, self.OPERATOR_KIND):
            raise TypeError(
                f"{type(self).__name__} needs a {self.OPERATOR_KIND.__name__}, "
                f"got {type(op).__name__}")
        self._operator = op
        return self

    def with_output(self, output: JobOutput):
        self._output = output
        return self

    def with_store(self, name: str, store):
        self._bindings[name] = store
        return self

    def with_history(self, history: JobHistory):
        self._history = history
        return self

    def with_conf(self, **conf):
        self._conf.update(conf)
        return self

    def with_name(self, name: str):
        self._name = name
        return self

    def build(self) -> Job:
        if self._input_df is None:
            raise ValueError("job needs with_input(df)")
        if self._operator is None:
            raise ValueError("job needs with_operator(op)")
        op = self._operator
        stores = bind_stores(op.required_stores(), self._bindings)
        context = OperatorContext(stores=stores, conf=self._conf)
        # rows-processed counter on the INPUT (the reference counts rows
        # fed to the operator, e.g. GATHERER_ROWS_PROCESSED in
        # GatherMapper:139) — observed inside the job, no second pass
        obs = Observation(f"{op.COUNTER_PREFIX}_counters")
        observed_input = self._input_df.observe(
            obs, F.count(F.lit(1)).alias(f"{op.COUNTER_PREFIX}_ROWS_PROCESSED"))
        plan = op.compile(observed_input, context)
        obs_out = Observation(f"{op.COUNTER_PREFIX}_out")
        plan = plan.observe(
            obs_out, F.count(F.lit(1)).alias(f"{op.COUNTER_PREFIX}_ROWS_OUT"))
        name = self._name or f"{type(op).__name__}"
        return Job(name, plan, self._output, observation=obs,
                   history=self._history, conf=self._conf,
                   out_observation=obs_out,
                   counter_prefix=op.COUNTER_PREFIX)


class GatherJobBuilder(_JobBuilder):
    from kiji_mapreduce_spark.operators.gather import Gatherer as OPERATOR_KIND  # noqa: F401

    with_gatherer = _JobBuilder.with_operator


class ProduceJobBuilder(_JobBuilder):
    from kiji_mapreduce_spark.operators.produce import Producer as OPERATOR_KIND  # noqa: F401

    with_producer = _JobBuilder.with_operator


class BulkImportJobBuilder(_JobBuilder):
    from kiji_mapreduce_spark.operators.bulk_import import BulkImporter as OPERATOR_KIND  # noqa: F401

    with_importer = _JobBuilder.with_operator


class PivotJobBuilder(_JobBuilder):
    from kiji_mapreduce_spark.operators.pivot import Pivoter as OPERATOR_KIND  # noqa: F401

    with_pivoter = _JobBuilder.with_operator


class MapReduceJobBuilder(_JobBuilder):
    from kiji_mapreduce_spark.operators.mapreduce import MapReduceOperator as OPERATOR_KIND  # noqa: F401
