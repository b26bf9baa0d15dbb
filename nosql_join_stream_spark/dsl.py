"""Query DSL — Column-expression builder with the reference's surface.

The reference builds queries with a free monad folded into a physical
query descriptor (``QFree`` → ``MongoReadSettings`` /
``CassandraReadSettings`` — reference dsl/package.scala:23-25,60-74,
94-101).  On Spark the "free monad" is Catalyst's logical plan: we
only need to build ``Column`` predicates and a small ``QuerySpec`` for
sort/limit/skip, and Catalyst does interpretation + pushdown.

Predicate surface (reference mongo/package.scala:82-120):
  $eq $gt $gte $lt $lte $ne $in $nin $all, && (and), || (or).

Usage (mirrors ``"index" $gte 0 $lte 5`` from JoinMongoSpec.scala:42):

    from nosql_join_stream_spark.dsl import q
    pred = q("index").gte(0).lte(5) & q("name").isin("a", "b")
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F

# The reference restricts predicate literals to six scalar types via
# MongoTypes evidence (mongo/package.scala:123-129).  We enforce the
# same set at build time so bad literals fail before execution.
import datetime

ALLOWED_LITERALS = (int, float, str, bool, datetime.date, datetime.datetime)


def _check_literal(v):
    if isinstance(v, (list, tuple, set)):
        for x in v:
            _check_literal(x)
        return list(v)
    if not isinstance(v, ALLOWED_LITERALS):
        raise TypeError(
            f"unsupported literal type {type(v).__name__}; the DSL accepts "
            f"int/float/str/bool/date/datetime (reference MongoTypes, "
            f"mongo/package.scala:123-129)")
    return v


class Q:
    """A named field; methods produce Column predicates, chainable like
    the reference's ``"f" $gte 0 $lte 5`` (conjunction of fragments)."""

    def __init__(self, name: str, pred: Column | None = None):
        self._name = name
        self._pred = pred

    # -- internal ------------------------------------------------------
    def _col(self) -> Column:
        return F.col(self._name)

    def _and(self, c: Column) -> "Q":
        return Q(self._name, c if self._pred is None else (self._pred & c))

    # -- predicate ops (reference mongo/package.scala:82-90) ------------
    def eq(self, v) -> "Q":
        return self._and(self._col() == F.lit(_check_literal(v)))

    def gt(self, v) -> "Q":
        return self._and(self._col() > F.lit(_check_literal(v)))

    def gte(self, v) -> "Q":
        return self._and(self._col() >= F.lit(_check_literal(v)))

    def lt(self, v) -> "Q":
        return self._and(self._col() < F.lit(_check_literal(v)))

    def lte(self, v) -> "Q":
        return self._and(self._col() <= F.lit(_check_literal(v)))

    def ne(self, v) -> "Q":
        return self._and(self._col() != F.lit(_check_literal(v)))

    def isin(self, *vs) -> "Q":
        vs = vs[0] if len(vs) == 1 and isinstance(vs[0], (list, tuple)) else vs
        return self._and(self._col().isin(*[_check_literal(v) for v in vs]))

    def nin(self, *vs) -> "Q":
        vs = vs[0] if len(vs) == 1 and isinstance(vs[0], (list, tuple)) else vs
        # Mongo $nin also matches missing fields; on fixed-schema tables
        # we additionally keep NULLs out, matching SQL three-valued logic.
        return self._and(~self._col().isin(*[_check_literal(v) for v in vs]))

    def all(self, *vs) -> "Q":
        """Array field contains all of ``vs`` (reference $all,
        mongo/package.scala:89).  Compiles to
        ``array_except(lit(vs), col) == []`` — pure JVM-side exprs."""
        vs = vs[0] if len(vs) == 1 and isinstance(vs[0], (list, tuple)) else vs
        lits = F.array(*[F.lit(_check_literal(v)) for v in vs])
        return self._and(F.size(F.array_except(lits, self._col())) == F.lit(0))

    # -- combinators -----------------------------------------------------
    def __and__(self, other) -> "Q":
        return Q("$and", _to_column(self) & _to_column(other))

    def __or__(self, other) -> "Q":
        return Q("$or", _to_column(self) | _to_column(other))

    def __invert__(self) -> "Q":
        return Q("$not", ~_to_column(self))

    def column(self) -> Column:
        if self._pred is None:
            raise ValueError(f"field '{self._name}' has no predicate applied")
        return self._pred


def q(name: str) -> Q:
    return Q(name)


def _to_column(x) -> Column:
    if isinstance(x, Q):
        return x.column()
    if isinstance(x, Column):
        return x
    raise TypeError(f"expected Q or Column, got {type(x).__name__}")


@dataclass
class QuerySpec:
    """sort/limit/skip descriptor — the non-predicate part of the
    reference's read settings (dsl/package.scala:48-58; applied to the
    cursor at storage.scala:598-602).  ``sort`` entries are
    (field, ascending)."""

    where: Column | Q | None = None
    sort: list[tuple[str, bool]] = field(default_factory=list)
    limit: int | None = None
    skip: int | None = None

    def apply(self, df):
        if self.where is not None:
            df = df.filter(_to_column(self.where))
        if self.sort:
            df = df.orderBy(*[F.col(f).asc() if asc else F.col(f).desc()
                              for f, asc in self.sort])
        if self.skip:
            df = df.offset(int(self.skip))
        if self.limit is not None:
            df = df.limit(int(self.limit))
        return df
