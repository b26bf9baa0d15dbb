"""Engine — the user-facing facade (reference "channel API" analog).

Reference: ``create[T] { b ⇒ b.q(...); b.sort(...); b.limit(...);
b.skip(...); b.db(...); b.collection(...) }`` builds a validated,
resource-safe stream (mongo/channel/package.scala:250-319); invalid
builders short-circuit to a failed stream before any I/O
(:252-259,268).  Here ``Engine.read`` builds a lazy DataFrame with the
same validation-before-execution contract, and the reference's three
stream backends (scalaz/Rx/Akka) collapse into one DataFrame API
(SURVEY.md §1.4).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession

from nosql_join_stream_spark import catalog
from nosql_join_stream_spark.dsl import Q, QuerySpec
from nosql_join_stream_spark.operators.join import inner_join
from nosql_join_stream_spark.operators.log import log_from


class QueryValidationError(ValueError):
    """Pre-execution validation failure — reference builder ``Left(err)``
    (mongo/channel/package.scala:252-259)."""


class QueryTimeoutError(TimeoutError):
    """Query exceeded its deadline and was cancelled — reference
    ``maxTimeMS`` (mongo/channel/package.scala:241,280)."""


class Engine:
    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        self.spark = spark
        self.sf_dir = sf_dir or catalog.DEFAULT_SF_DIR

    # -- sources -------------------------------------------------------
    def table(self, name: str) -> DataFrame:
        """Bare scan (reference S1-S6, storage.scala:593-658)."""
        return catalog.load_table(self.spark, name, self.sf_dir)

    #: live-connector formats (reference storage.scala:593-616 Mongo
    #: cursor scan, :644-658 Cassandra; drivers build.sbt:34-35,55-56)
    #: -> the options each REQUIRES before any I/O can happen.  These
    #: sources take no path: location comes entirely from options.
    CONNECTOR_REQUIRED = {
        "mongodb": ("connection.uri", "database", "collection"),
        "org.apache.spark.sql.cassandra": ("keyspace", "table"),
        "jdbc": ("url",),
    }
    _JDBC_TARGET = ("dbtable", "query")

    def load(self, path: str | None = None, fmt: str = "parquet",
             schema=None, **options) -> DataFrame:
        """Source scan — the reference's connector family
        (Mongo/Cassandra only, build.sbt:34-35,55-56) widened to any
        Spark DataSource: parquet/orc (columnar, full pushdown +
        pruning), csv/json (row formats — pass an explicit ``schema``;
        schema inference scans the data twice and types drift at
        scale), and the live connectors themselves (``fmt="mongodb"``
        / ``"org.apache.spark.sql.cassandra"`` / ``"jdbc"`` —
        pathless; location and credentials forward as options, with
        the reference's fail-fast builder validation applied BEFORE
        any I/O).  The mongo/cassandra jars ship outside this repo
        (option assembly and validation unit-tested without a live
        database); the jdbc path executes end-to-end in tests against
        embedded Derby, which ships with Spark — so the whole
        Engine.load → DataFrameReader → connector seam has executed
        coverage.  ``fmt="json_docs"`` (after
        ``pydocsource.register_json_docs(spark)``) is the pure-Python
        document-store connector — the same seam, zero jars, batch
        AND streaming, executed end-to-end in tests.
        """
        required = self.CONNECTOR_REQUIRED.get(fmt, ())
        if required:
            if path is not None:
                raise QueryValidationError(
                    f"{fmt} source takes no path; pass location via "
                    f"options {required}")
            missing = [k for k in required if k not in options]
            if missing:
                raise QueryValidationError(
                    f"{fmt} source requires options {missing} "
                    "(reference builder db/collection validation, "
                    "mongo/channel/package.scala:252-259)")
            if fmt == "jdbc":
                targets = [k for k in self._JDBC_TARGET if k in options]
                if len(targets) != 1:
                    raise QueryValidationError(
                        "jdbc source requires exactly one of "
                        f"{self._JDBC_TARGET}, got {targets or 'none'}")
        elif path is None:
            raise QueryValidationError(f"{fmt} source requires a path")
        r = self.spark.read.format(fmt)
        if schema is not None:
            r = r.schema(schema)
        elif fmt in ("csv", "json"):
            raise QueryValidationError(
                f"{fmt} source requires an explicit schema "
                "(inference double-scans and drifts at scale)")
        for k, v in options.items():
            r = r.option(k, v)
        return r.load(path) if path is not None else r.load()

    def load_stream(self, path: str | None = None, fmt: str = "parquet",
                    schema=None, **options) -> DataFrame:
        """Streaming twin of :meth:`load` — unbounded sources with the
        same fail-fast validation: file formats (path + explicit
        schema) and the live ``kafka`` source (pathless, options
        forwarded; see streaming.log_stream.read_stream_source)."""
        from nosql_join_stream_spark.streaming.log_stream import (
            read_stream_source)
        return read_stream_source(self.spark, fmt=fmt, path=path,
                                  schema=schema, **options)

    def read(
        self,
        table: str,
        where: Column | Q | str | None = None,
        sort: Sequence[tuple[str, bool]] | None = None,
        limit: int | None = None,
        skip: int | None = None,
    ) -> DataFrame:
        """Channel-API reader (reference S9, mongo/channel/package.scala:250-263).

        ``where`` accepts a DSL ``Q``, a raw ``Column``, or an MQL/SQL
        string: strings starting with '{' are parsed as MQL (reference
        mqlparser), anything else as a SQL boolean expression.  Parse
        errors raise *before* execution, matching the reference's
        failed-stream semantics (IntegrationMongoClientSpec.scala:59-76).
        """
        if not table:
            raise QueryValidationError("collection/table name is required")
        df = self.table(table)
        from_string = isinstance(where, str)
        if from_string:
            from nosql_join_stream_spark.mql import mql_to_column
            where = mql_to_column(where) if where.lstrip().startswith("{") \
                else self._sql_predicate(where)
        if limit is not None and limit < 0:
            raise QueryValidationError(f"limit must be >= 0, got {limit}")
        if skip is not None and skip < 0:
            raise QueryValidationError(f"skip must be >= 0, got {skip}")
        if from_string and where is not None:
            # analysis errors (bad column, non-boolean expr) must also
            # fail fast, like the reference's failed-stream semantics
            try:
                df = df.filter(where)
            except Exception as e:
                raise QueryValidationError(f"bad filter: {e}") from e
            where = None
        spec = QuerySpec(where=where, sort=list(sort or []), limit=limit, skip=skip)
        return spec.apply(df)

    @staticmethod
    def _sql_predicate(expr: str) -> Column:
        from pyspark.sql import functions as F
        try:
            return F.expr(expr)
        except Exception as e:  # Catalyst parse error → fail fast
            raise QueryValidationError(f"bad filter expression {expr!r}: {e}") from e

    def sql(self, query: str) -> DataFrame:
        """String front end: full SQL over registered catalog views
        (replaces the reference MQL front end, SURVEY.md §2.9)."""
        catalog.register_views(self.spark, self.sf_dir)
        return self.spark.sql(query)

    # -- operators -------------------------------------------------------
    def join_inner(self, outer: DataFrame, inner: DataFrame, on, mapper=None,
                   **kw) -> DataFrame:
        """Reference ``Join[M].inner`` (join/package.scala:52-63)."""
        return inner_join(outer, inner, on, mapper, **kw)

    def log_from(self, table: str, key, offset: int = 0, *,
                 key_col: str = "user_id", seq_col: str = "event_id") -> DataFrame:
        """Reference ``Log[M].from`` (log/package.scala:56-62)."""
        return log_from(self.table(table), key, offset,
                        key_col=key_col, seq_col=seq_col)

    def collect_with_timeout(self, df: DataFrame, timeout_ms: int):
        """Reference ``maxTimeMS`` (O4, mongo/channel/package.scala:241,
        280) — the server-side query timeout, mapped to its honest
        Spark analog: run the action in a job group and cancel the
        group when the deadline passes.  Raises
        :class:`QueryTimeoutError`; partial results are discarded.
        """
        import uuid

        sc = self.spark.sparkContext
        group = f"timeout-{uuid.uuid4().hex[:12]}"
        result: dict = {}

        def run():
            # InheritableThread propagates the job group to the JVM
            sc.setJobGroup(group, "collect_with_timeout",
                           interruptOnCancel=True)
            try:
                result["rows"] = df.collect()
            except Exception as ex:  # cancellation surfaces here
                result["error"] = ex

        from pyspark import InheritableThread
        t = InheritableThread(target=run)
        t.start()
        t.join(timeout_ms / 1000.0)
        if t.is_alive():
            sc.cancelJobGroup(group)
            t.join(30)
            raise QueryTimeoutError(
                f"query exceeded {timeout_ms} ms and was cancelled")
        if "error" in result:
            raise result["error"]
        return result["rows"]

    # -- sinks ---------------------------------------------------------
    def write(self, df: DataFrame, path: str, fmt: str = "parquet",
              mode: str = "overwrite",
              partition_by=None) -> None:
        """Batch sink (reference S10 — test-only there; first-class here).
        See sinks.write_table / sinks.write_bucketed for layout notes."""
        from nosql_join_stream_spark.sinks import write_table
        write_table(df, path, fmt=fmt, mode=mode, partition_by=partition_by)
