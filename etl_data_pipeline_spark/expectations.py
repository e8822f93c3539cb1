"""Declarative data-quality expectations, validated in ONE pass.

The reference pipeline ships whatever the source cursor returns
(util.py:170-173) — a NULL key, a negative amount, or a duplicated id
lands in the target silently. Modern pipelines gate loads on
declarative rules (Great Expectations / dbt tests / Delta Live Tables
expectations are the public shape of this idea); this module is that
gate, Spark-first:

- each rule compiles to a Catalyst boolean Column, so checking N rules
  costs ONE projection over the batch — no per-rule scan, no Python
  in the row path;
- ``unique`` is the one rule that needs a shuffle (a window count per
  key); it shares the same single pass via a window column;
- the verdict splits the batch into (passed, violations) frames plus a
  per-rule violation count — the violations frame carries one
  ``_violated`` array column naming every failed rule so a quarantined
  row is debuggable without re-deriving anything.

Pipeline wiring (pipeline.py): ``TableSpec.expectations`` with
``expectations_mode``:
- ``'fail'`` (default): ANY violation fails the table (error
  isolation keeps other tables running) — the watermark does not
  advance, so the batch retries next run after the upstream fix;
- ``'drop'``: violating rows are dropped from the load and written to
  a quarantine parquet next to the sink (the dead-letter idiom of
  read_with_quarantine, applied to semantic rules instead of parse
  errors); the clean subset loads and the watermark advances over the
  WHOLE batch — a fixed upstream row re-arrives with a new watermark,
  it is not replayed automatically.

The pipeline checkpoints the marked batch, and the Observation on that
checkpoint carries the counts, so the gate adds no job to the read.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_VIOL = "_violated"


@dataclass(frozen=True)
class Expectation:
    """One named rule: ``holds`` must be TRUE for every row.

    ``holds`` is a THUNK (zero-arg callable returning a Column), not a
    Column: Column construction needs an active SparkContext, and
    specs (TableSpec.expectations) are routinely declared at module
    import or config-load time, before any session exists — the same
    lazy-construction rule as operators/tpch.py's _revenue(). A raw
    Column is also accepted for ad-hoc use inside a live session."""

    name: str
    holds: object  # Callable[[], Column] | Column

    def column(self) -> Column:
        return self.holds() if callable(self.holds) else self.holds

    # -- factories for the common rules (each is one Column expr) -----

    @staticmethod
    def not_null(col: str) -> "Expectation":
        return Expectation(
            f"not_null({col})", lambda: F.col(col).isNotNull()
        )

    @staticmethod
    def in_range(col: str, lo=None, hi=None) -> "Expectation":
        def build():
            c = F.col(col)
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (c >= lo)
            if hi is not None:
                cond = cond & (c <= hi)
            # NULL passes range rules: absence is not_null's business —
            # composable rules must not double-report one defect
            return c.isNull() | cond

        return Expectation(f"in_range({col},{lo},{hi})", build)

    @staticmethod
    def in_set(col: str, values: Sequence) -> "Expectation":
        vals = list(values)
        return Expectation(
            f"in_set({col})",
            lambda: F.col(col).isNull() | F.col(col).isin(*vals),
        )

    @staticmethod
    def matches(col: str, pattern: str) -> "Expectation":
        return Expectation(
            f"matches({col})",
            lambda: F.col(col).isNull() | F.col(col).rlike(pattern),
        )

    @staticmethod
    def foreign_key(col, dim, dim_col=None, name=None) -> "ForeignKey":
        """Declarative referential-integrity rule: every non-NULL
        ``col`` must exist in ``dim[dim_col]``. ``dim`` is a DataFrame
        or a zero-arg thunk returning one (same lazy-construction rule
        as ``holds`` — specs are declared before any session exists).
        Compiles onto check_referential's plan shape: the DISTINCT
        dimension key set broadcasts and the batch takes ONE broadcast
        left join per FK rule — no fact-side shuffle, and the rule
        still participates in the same single-pass marked projection
        as every Column rule."""
        return ForeignKey(
            name=name or f"fk({col})",
            holds=None,
            col=col,
            dim=dim,
            dim_col=dim_col or col,
        )

    @staticmethod
    def unique(*cols: str) -> "Expectation":
        def build():
            # window count over the key: the one rule that shuffles;
            # rows with NULL in the key are exempt (not_null's business)
            w = Window.partitionBy(*[F.col(c) for c in cols])
            non_null = F.lit(True)
            for c in cols:
                non_null = non_null & F.col(c).isNotNull()
            return (~non_null) | (F.count("*").over(w) == 1)

        return Expectation(f"unique({','.join(cols)})", build)


@dataclass(frozen=True)
class ForeignKey(Expectation):
    """A referential rule (see Expectation.foreign_key). ``holds`` is
    unused — _marked gives each FK rule a broadcast-joined marker
    column and derives its boolean from that."""

    col: str = ""
    dim: object = None  # DataFrame | Callable[[], DataFrame]
    dim_col: str = ""

    def dim_frame(self) -> DataFrame:
        return self.dim() if callable(self.dim) else self.dim


@dataclass
class ExpectationReport:
    passed: DataFrame  # rows satisfying every rule (original columns)
    violations: DataFrame  # failing rows + _violated: array<string>
    counts: dict[str, int]  # rule name -> violating row count
    total: int
    n_violations: int

    @property
    def ok(self) -> bool:
        return self.n_violations == 0

    @classmethod
    def of(
        cls, marked: DataFrame, rules: Sequence[Expectation], counts
    ) -> "ExpectationReport":
        """Split a :func:`_marked` frame by the values of its
        :func:`violation_metrics` (``counts``: a Row or a dict, such as
        an Observation's). The split is two filters; it runs no job."""
        return cls(
            passed=marked.filter(F.size(_VIOL) == 0).drop(_VIOL),
            violations=marked.filter(F.size(_VIOL) > 0),
            counts={r.name: int(counts[r.name] or 0) for r in rules},
            total=int(counts["total_rows"]),
            n_violations=int(counts["violating_rows"] or 0),
        )


def _marked(df: DataFrame, rules: Sequence[Expectation]) -> DataFrame:
    names = [r.name for r in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate expectation names: {names}")
    # FK rules first: each contributes one broadcast left join that
    # tags rows with a membership marker, then every rule (Column and
    # FK alike) folds into the SAME single-pass _violated projection.
    # A NULL key is valid (absence is not_null's business).
    work = df
    checks: list[Column] = []
    markers: list[str] = []
    for i, r in enumerate(rules):
        if isinstance(r, ForeignKey):
            marker = f"_fk_ok_{i}"
            keys = F.broadcast(
                r.dim_frame()
                .select(F.col(r.dim_col).alias(r.col))
                .distinct()
                .withColumn(marker, F.lit(True))
            )
            work = work.join(keys, on=r.col, how="left")
            markers.append(marker)
            checks.append(F.col(r.col).isNull() | F.col(marker).isNotNull())
        else:
            checks.append(r.column())
    violated = F.array_compact(
        F.array(
            *[
                F.when(~c, F.lit(r.name)).otherwise(F.lit(None))
                for r, c in zip(rules, checks)
            ]
        )
    )
    return work.select(*df.columns, violated.alias(_VIOL))


def violation_metrics(rules: Sequence[Expectation]) -> list[Column]:
    """The aggregates over a :func:`_marked` frame: ``total_rows``,
    ``violating_rows``, then one violation count per rule, named by the
    rule. Explode-free (a sum of per-rule int casts), so they fit one
    aggregate or one Observation whatever the rule count."""
    return [
        F.count("*").alias("total_rows"),
        F.sum((F.size(_VIOL) > 0).cast("long")).alias("violating_rows"),
        *[
            F.sum(F.array_contains(_VIOL, r.name).cast("long")).alias(r.name)
            for r in rules
        ],
    ]


def violation_counts(df: DataFrame, rules: Sequence[Expectation]) -> DataFrame:
    """The report as a LAZY 1-row DataFrame of
    :func:`violation_metrics`. This is the declarative face — usable as
    a registry query with a SQL oracle; check_expectations materializes
    it for an ad-hoc gate."""
    if not rules:
        raise ValueError("violation_counts: empty rule list")
    return _marked(df, rules).agg(*violation_metrics(rules))


def check_expectations(
    df: DataFrame, rules: Sequence[Expectation]
) -> ExpectationReport:
    """Evaluate every rule in one pass and split the batch.

    The marked frame is computed once (all rule Columns in a single
    projection); the split is two filters over it and the counts come
    from ONE aggregate over the same marked frame, so the report costs
    one aggregate regardless of rule count. The pipeline does not call
    this: it takes the same counts from the Observation on its batch
    checkpoint and splits that with :meth:`ExpectationReport.of`."""
    if not rules:
        raise ValueError("check_expectations: empty rule list")
    marked = _marked(df, rules)
    # aggregate over the SAME marked frame the split reads — not a
    # second _marked(df) plan: with FK rules that is one broadcast
    # join per rule built twice, and on a source that can change
    # between jobs a separate plan could even count a different batch
    # than it splits
    return ExpectationReport.of(
        marked, rules, marked.agg(*violation_metrics(rules)).first()
    )


class ExpectationError(ValueError):
    """A batch violated fail-mode expectations; message carries the
    per-rule counts so the table's error row is actionable."""


def check_referential(
    df: DataFrame,
    col: str,
    dim: DataFrame,
    dim_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Referential-integrity check — the one common rule a per-row
    Column cannot express (it needs the dimension relation): split
    ``df`` into (valid, orphans) by whether ``col`` exists in
    ``dim[dim_col]``.

    Plan shape: the DISTINCT key set of the dimension is broadcast
    (dimension keys are small even when the dimension is wide), so the
    fact side streams through a broadcast semi/anti join pair — one
    scan, no fact shuffle. NULL keys are valid here (absence is
    not_null's business, same composability rule as the Column
    rules)."""
    keys = F.broadcast(dim.select(F.col(dim_col).alias(col)).distinct())
    valid = df.join(keys, on=col, how="left_semi").unionByName(
        df.filter(F.col(col).isNull())
    )
    orphans = df.filter(F.col(col).isNotNull()).join(
        keys, on=col, how="left_anti"
    )
    return valid, orphans
