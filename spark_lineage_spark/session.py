"""Session construction and the LineageSession facade.

The reference registers a JVM ``QueryExecutionListener`` via the static
conf ``spark.sql.queryExecutionListeners`` (SURVEY.md §0; the mechanism
is verified Spark behavior — pyspark/sql/tests/test_listener.py). That
static conf only takes JVM class names, so it is out of reach from
Python; a py4j-callback listener registered at runtime through
``spark._jsparkSession.listenerManager().register(...)`` does receive
``onSuccess``/``onFailure``. This engine captures lineage at the facade
boundary instead: ``LineageSession`` wraps ``SparkSession`` and emits a
report per executed action/write by walking the analyzed logical plan
(SURVEY.md §3.1 step 4).
"""

from __future__ import annotations

import contextvars
import os
import time
import uuid
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame, SparkSession

# Per-context prefix applied to emitted func_names; set by
# ``LineageSession.foreach_batch`` so reports emitted inside a
# micro-batch handler carry their epoch. contextvars (not a session
# attribute): two concurrent streaming queries run their handlers on
# different threads and must not see each other's epoch.
_FUNC_PREFIX: contextvars.ContextVar[str] = contextvars.ContextVar(
    "sls_func_prefix", default=""
)

# Runtime-settable confs applied to any session this engine touches.
# All are safe to set repeatedly (idempotent).
RUNTIME_CONFS: dict[str, str] = {
    # Align with the DuckDB oracle: UTC timestamps, ANSI semantics
    # (ANSI is the Spark 4 default; pinned for clarity).
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "true",
    # AQE: runtime coalescing, skew-join splitting, broadcast conversion.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Python data sources implementing DataSourceReader.pushFilters
    # prune at generation (source_python_pushdown); readers without
    # pushFilters keep the default everything-is-residual behavior.
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # size coalesced shuffles by bytes (advisory 64MB), not by the
    # static partition count: at scale this still yields full
    # parallelism, while small shuffles stop paying N-tiny-task
    # scheduling + codegen overhead per stage (measured 4-5× on the
    # multi-stage dedup ops — see operators/dedup.py)
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    # Arrow for every pandas exchange (toPandas, pandas UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Shuffle parallelism scales with the cluster, not a literal
    # (VERDICT r14 item: the constant "32" only made sense on
    # local[32]): "auto" resolves in tune_runtime to
    # $SPARK_GRAFT_SHUFFLE_PARTITIONS if set, else
    # sparkContext.defaultParallelism (= the local[N] core count
    # locally, total executor cores on a cluster). AQE coalesces
    # below that at small data sizes either way.
    "spark.sql.shuffle.partitions": "auto",
    # events.parquet stores TIMESTAMP(NANOS) which Spark 4 rejects by
    # default; read the raw int64 and convert to µs in tables.load().
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Optimization r14 (guide §7.2 duplicated subtrees): every explode
    # in this engine generates from a COMPUTED array (tokenize →
    # shingles/bigrams). InferFiltersFromGenerate adds
    # size(arr) > 0 AND isnotnull(arr) above the generator, and filter
    # pushdown then substitutes the full array expression into a
    # filter BELOW the parallelizing exchange — the tokenize+transform
    # work ran 3-4× per row inside the single scan task (measured:
    # llm_watermark_detect 8.2 s → 1.2 s at sf0.1 from this exclusion
    # alone; every shingle/bigram op shares the pattern). The inferred
    # filter only pre-drops rows whose exploded array is empty — rows
    # Generate drops anyway — so correctness is unaffected at any
    # scale, and for computed arrays the "optimization" is a strict
    # per-row CPU multiplier.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def _resolve_conf(spark: SparkSession, key: str, value: str) -> str:
    """Resolve scale-adaptive conf sentinels against the live session."""
    if key == "spark.sql.shuffle.partitions" and value == "auto":
        return os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") or str(
            spark.sparkContext.defaultParallelism
        )
    return value


def tune_runtime(spark: SparkSession) -> SparkSession:
    """Apply engine runtime confs to an externally-built session.

    The correctness driver constructs its own ``SparkSession``; queries
    call this to pin semantics (timezone, ANSI) and scale knobs (AQE,
    shuffle partitions) without restarting the JVM.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, _resolve_conf(spark, k, v))
        except Exception:
            pass  # static conf on this build — keep going
    return spark


def build_spark(
    app_name: str = "spark_lineage_spark",
    cpus: Optional[int] = None,
    extra_confs: Optional[dict[str, str]] = None,
) -> SparkSession:
    """Build a local SparkSession tuned for this engine.

    local[N] = one JVM, N executor threads; ``spark.driver.memory`` is
    the only memory knob that matters there. On a real cluster the same
    confs apply per-executor and AQE handles partition sizing.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/sls_warehouse")
        # long-lived sessions accumulate localCheckpoint blocks whose
        # cleanup waits on a driver GC (ContextCleaner is
        # reference-triggered); the 30min default periodicGC lets dead
        # blocks pile into memory pressure and GC storms mid-workload —
        # measured 47s on a 2s query after ~150 checkpointing queries
        .config("spark.cleaner.periodicGC.interval", "60s")
        # Files: split large scans into ~128MB tasks (default) but make
        # tiny SF still parallel enough via openCostInBytes default.
    )
    for k, v in RUNTIME_CONFS.items():
        if v == "auto":
            continue  # session-dependent sentinel; tune_runtime resolves it
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune_runtime(spark)
    return spark


class LineageSession:
    """Engine facade: a SparkSession whose reads/writes/actions emit lineage.

    Mirrors the reference's observable behavior (one report per completed
    query: inputs, output, fields, run metadata — SURVEY.md §0) while
    staying plan-driven: both the SQL and DataFrame entry points converge
    on the same analyzed logical plan, so extraction happens there.
    """

    def __init__(
        self,
        spark: SparkSession,
        reporter: Optional["Reporter"] = None,
        async_capture: bool = False,
    ):
        """``async_capture=True`` moves plan extraction (tens of ms per
        report, growing with plan size — BASELINE.md) off the caller's
        thread onto a single ordered worker; call ``flush()`` before
        reading reports synchronously."""
        from spark_lineage_spark.plans.reporters import reporter_from_conf

        self.spark = tune_runtime(spark)
        # default: build from spark.lineage.* confs (the reference's
        # configuration surface) — plain JSONL when nothing is set
        self.reporter = reporter if reporter is not None else reporter_from_conf(spark)
        self.app_id = spark.sparkContext.applicationId
        self.app_name = spark.sparkContext.appName
        self._executor = None
        if async_capture:
            from concurrent.futures import ThreadPoolExecutor

            self._executor = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="sls-lineage"
            )

    # -- entry points -------------------------------------------------
    @property
    def read(self):
        from spark_lineage_spark.sources.reader import LineageReader

        return LineageReader(self)

    def sql(self, query: str, **kwargs) -> "LineageDataFrame":
        t0 = time.perf_counter()
        df = self.spark.sql(query, **kwargs)
        # DDL/DML commands execute EAGERLY inside spark.sql(); the
        # write already happened, so report now (one report per
        # completed command — the reference's primary trigger)
        try:
            cls = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
        except Exception:
            cls = ""
        from spark_lineage_spark.plans.extract import is_write_command

        if is_write_command(cls):
            self.emit(df, "sql.command", time.perf_counter() - t0)
        return self._wrap(df)

    def table(self, name: str) -> "LineageDataFrame":
        return self._wrap(self.spark.table(name))

    def foreach_batch(self, handle: Callable) -> Callable:
        """Wrap a ``foreachBatch`` handler for batch-level lineage.

        The handler receives the micro-batch as a ``LineageDataFrame``,
        so writes/actions inside it emit full reports (inputs, output,
        column edges) — the per-epoch complement to the
        StreamingQueryListener's progress reports, which carry only
        source/sink descriptions. Emitted func_names are prefixed
        ``foreachBatch[<epoch>]:`` via a context variable, so reports
        from concurrent streams cannot cross-tag.

        Usage::

            q = df.writeStream.foreachBatch(eng.foreach_batch(handle))
        """

        def wrapped(batch_df: DataFrame, epoch_id: int) -> None:
            token = _FUNC_PREFIX.set(f"foreachBatch[{epoch_id}]:")
            try:
                handle(self._wrap(batch_df), epoch_id)
            finally:
                _FUNC_PREFIX.reset(token)

        return wrapped

    def _wrap(self, df: DataFrame) -> "LineageDataFrame":
        from spark_lineage_spark.sources.frame import LineageDataFrame

        return LineageDataFrame(df, self)

    # -- capture ------------------------------------------------------
    def emit(
        self,
        df: DataFrame,
        func_name: str,
        duration_s: float,
        output: Optional[dict[str, Any]] = None,
        error: Optional[str] = None,
        num_output_rows: Optional[int] = None,
    ) -> None:
        """Build a report from ``df``'s analyzed plan and ship it.

        Read-only plan traversal — adds zero extra Spark jobs
        (BASELINE.md lineage-overhead budget). Row counts must arrive
        HERE (not patched on afterwards): streaming reporters like
        JsonlReporter serialize immediately.
        """
        from spark_lineage_spark.plans.extract import extract_report

        # resolve the epoch prefix on the CALLER's thread — the async
        # executor thread has its own (empty) context
        tagged_name = _FUNC_PREFIX.get() + func_name

        def capture():
            # Lineage capture is observability: an extraction or
            # reporter failure must never propagate into (or fail) the
            # user's completed query — log and move on.
            try:
                report = extract_report(
                    df,
                    func_name=tagged_name,
                    duration_s=duration_s,
                    app_id=self.app_id,
                    app_name=self.app_name,
                    output=output,
                    error=error,
                    num_output_rows=num_output_rows,
                )
                self.reporter.report(report)
            except Exception:
                import logging

                logging.getLogger(__name__).warning(
                    "lineage capture failed (query unaffected)", exc_info=True
                )

        if self._executor is not None:
            # analyzed plan is immutable post-action; extraction is
            # safe off-thread and report order is preserved (1 worker)
            self._executor.submit(capture)
        else:
            capture()

    def flush(self) -> None:
        """Wait for pending async captures (no-op in sync mode)."""
        if self._executor is not None:
            self._executor.submit(lambda: None).result()

    # -- lineage-as-a-table (the catalog is itself queryable) ---------
    def lineage(self, all_apps: bool = False) -> DataFrame:
        """Return the captured lineage log as a DataFrame (dogfooding).

        The JSONL log is append-only and may hold reports from earlier
        runs sharing the default path — scoped to this session's
        app_id unless ``all_apps=True``.
        """
        from pyspark.sql import functions as F

        from spark_lineage_spark.plans.reporters import CompositeReporter, JsonlReporter

        self.flush()  # async captures may still be in flight
        jsonl = None
        if isinstance(self.reporter, JsonlReporter):
            jsonl = self.reporter
        elif isinstance(self.reporter, CompositeReporter):
            jsonl = next(
                (r for r in self.reporter.reporters if isinstance(r, JsonlReporter)), None
            )
        if jsonl is not None and os.path.exists(jsonl.path):
            df = self.spark.read.json(jsonl.path)
            if not all_apps and "run" in df.columns:
                df = df.filter(F.col("run.app_id") == self.app_id)
            return df
        raise ValueError("lineage() requires a JsonlReporter with at least one report")


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


def now_s() -> float:
    return time.time()
