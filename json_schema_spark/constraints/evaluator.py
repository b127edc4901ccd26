"""Single-pass constraint evaluation → violations + per-partition verdicts.

Inverts the reference's fail-fast model (first failure throws
ValidationException — /root/reference/src/Validator.php:228-235): every
compiled constraint is evaluated in ONE projection over ONE scan, failures
are collected per row into an array of (constraint_id, observed_value)
structs, and the violations / verdict outputs are derived views of that
annotated DataFrame. Catalyst CSE + whole-stage codegen fuse all predicates
into a single generated function per partition — this is the property that
makes the design hold at 10^12 rows: cost is one scan. Without a
uniqueness key the row-level checks need no shuffle at all. A uniqueness
key that contains the id column (the flagship's url) is folded into the
same scan: the violation rows and one presence marker per row go through a
single map-side-combined count aggregate, so they ride the uniqueness
shuffle instead of being joined back to it. Other keys and DataFrame
referentials stay separate, explicitly skew-managed shuffles.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from json_schema_spark.constraints.compiler import (
    CompiledConstraint,
    compile_constraints,
)
from json_schema_spark.constraints.spec import ConstraintSet

VIOLATIONS_COL = "_violations"
OK_COL = "_ok"
VIOLATION_TYPE = "struct<constraint_id:string,observed_value:string>"


def apply_defaults(df: DataFrame, cset: ConstraintSet) -> DataFrame:
    """MODE_APPLY_DEFAULTS as a pure transform: null column value → schema
    default (Validator.php:96-105 substitutes and skips further checks; here
    the substituted value simply passes the checks it was designed to pass).
    """
    repl = {}
    for col_name, spec in cset.columns.items():
        if "default" in spec and col_name in df.columns:
            repl[col_name] = F.coalesce(
                F.col(col_name),
                F.lit(spec["default"]).cast(df.schema[col_name].dataType))
    if not repl:
        return df
    return df.withColumns(repl)


@dataclass
class ValidationResult:
    """Lazy handles over the annotated DataFrame; nothing executes until an
    action. ``observation`` carries scan-free metrics (filled after the
    first action on ``annotated``)."""

    annotated: DataFrame            # input + _violations array + _ok flag
    constraints: list[CompiledConstraint]
    cset: ConstraintSet
    id_col: str
    observation: Observation | None
    _dataset_violations: DataFrame | None  # unique/referential (shuffled path)
    _fused_key: list[str] | None = None  # unique key counted with the rows

    # -- outputs --------------------------------------------------------
    def violations(self) -> DataFrame:
        """(id, constraint_id, observed_value) — row-level violations plus
        dataset-level (uniqueness / referential) ones."""
        if self._fused_key is not None:
            from json_schema_spark.checks.uniqueness import (
                counted_violations,
            )

            out = counted_violations(self.annotated, self._fused_key,
                                     self.id_col, F.col(VIOLATIONS_COL))
        else:
            # no size()>0 pre-filter: explode of an empty array already
            # emits nothing, and a Filter node would force the (large)
            # violation array expression to be evaluated twice per row
            out = (
                self.annotated
                .select(
                    F.col(self.id_col).cast("string").alias(self.id_col),
                    F.explode(F.col(VIOLATIONS_COL)).alias("v"))
                .select(
                    self.id_col,
                    F.col("v.constraint_id").alias("constraint_id"),
                    F.col("v.observed_value").alias("observed_value"))
            )
        if self._dataset_violations is not None:
            out = out.unionByName(self._dataset_violations)
        return out

    def valid_rows(self) -> DataFrame:
        base = [c for c in self.annotated.columns
                if c not in (VIOLATIONS_COL, OK_COL)]
        return self.annotated.filter(F.col(OK_COL)).select(*base)

    def partition_verdicts(self, by: Column | str | None = None) -> DataFrame:
        """Per-partition pass/fail — the north_rule's per-partition verdict.

        ``by`` defaults to the physical partition id; pass e.g.
        ``F.to_date("warc_ts")`` for logical (Iceberg-style) partitions.
        """
        key = F.spark_partition_id().alias("partition_key") if by is None \
            else (F.col(by) if isinstance(by, str) else by).alias("partition_key")
        return (
            self.annotated
            .groupBy(key)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum((~F.col(OK_COL)).cast("long")).alias("n_failed_rows"),
                F.sum(F.size(F.col(VIOLATIONS_COL)).cast("long"))
                 .alias("n_violations"))
            .withColumn("pass", F.col("n_failed_rows") == 0)
        )

    def constraint_summary(self) -> DataFrame:
        """Violation count per constraint_id (one shuffle over the tiny
        exploded violation set)."""
        return (self.violations()
                .groupBy("constraint_id")
                .agg(F.count(F.lit(1)).alias("n_violations"))
                .orderBy("constraint_id"))

    def metrics(self) -> dict[str, Any]:
        """Scan-free metrics recorded by df.observe — valid after any action
        on ``annotated`` (or a derived output)."""
        if self.observation is None:
            return {}
        return dict(self.observation.get)


def _dataset_checks(df: DataFrame, keys: list[list[str]], cset: ConstraintSet,
                    id_col: str) -> DataFrame | None:
    """Dataset-level checks that genuinely need data movement → violation
    rows, for the uniqueness ``keys`` not folded into the row-level pass.
    Uniqueness always shuffles (see checks/uniqueness.py for the skew
    story); referential checks against a *DataFrame* dimension
    broadcast-join. Literal allow-list referentials are pure predicates and
    are fused into the single-pass row-level projection instead (see
    validate()) — zero extra scans for them.
    """
    from json_schema_spark.checks.referential import referential_violations
    from json_schema_spark.checks.uniqueness import uniqueness_violations

    parts = [uniqueness_violations(df, cols, id_col=id_col) for cols in keys]
    for col, allowed in cset.referential.items():
        if isinstance(allowed, DataFrame):
            parts.append(referential_violations(df, col, allowed,
                                                id_col=id_col))
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def violation_array(compiled: list[CompiledConstraint]) -> Column:
    """The ``_violations`` column: one (constraint_id, observed_value)
    struct per failed constraint. Built as a ``concat`` of one-element or
    empty arrays rather than a lambda ``filter`` over nullable structs,
    because ``filter`` is interpreted (CodegenFallback) and would take the
    whole predicate tree out of whole-stage codegen. The structs are left
    unnamed (Spark names their fields col1, col2) and named by one cast of
    the whole array, which keeps two alias calls per constraint out of
    plan construction."""
    if not compiled:
        return F.array().cast(f"array<{VIOLATION_TYPE}>")
    empty = F.array().cast("array<struct<col1:string,col2:string>>")
    return F.concat(*[
        F.when(~c.predicate, F.array(F.struct(
            F.lit(c.constraint_id), c.observed.cast("string"))))
        .otherwise(empty)
        for c in compiled]).cast(f"array<{VIOLATION_TYPE}>")


def _referential_constraints(df: DataFrame,
                             cset: ConstraintSet) -> list[CompiledConstraint]:
    """Literal allow-list referential checks as fused row-level constraints
    (same semantics as checks.referential.referential_violations: non-null
    value outside the list fails)."""
    out = []
    for col_name, allowed in cset.referential.items():
        if isinstance(allowed, DataFrame):
            continue
        if col_name not in df.columns:
            # a typo'd column name must not make the check silently pass
            # — same policy as `required` on a missing column
            # (compiler.compile_constraints): an always-fail constraint
            out.append(CompiledConstraint(
                f"{col_name}.referential", col_name,
                F.lit(False), F.lit(None).cast("string")))
            continue
        col = F.col(col_name)
        pred = F.coalesce(col.isNull() | col.isin(list(allowed)), F.lit(False))
        out.append(CompiledConstraint(
            f"{col_name}.referential", col_name, pred, col.cast("string")))
    return out


def validate(
    df: DataFrame,
    cset: ConstraintSet,
    id_col: str = "url",
    with_defaults: bool = True,
    dataset_checks: bool = True,
    observe: bool = True,
) -> ValidationResult:
    """Compile the ConstraintSet against ``df``'s schema and build the
    annotated DataFrame. Pure transformation — no action is triggered."""
    if with_defaults:
        df = apply_defaults(df, cset)

    compiled = compile_constraints(cset, df.schema)
    if dataset_checks:
        compiled = compiled + _referential_constraints(df, cset)

    annotated = (df
                 .withColumn(VIOLATIONS_COL, violation_array(compiled))
                 .withColumn(OK_COL, F.size(F.col(VIOLATIONS_COL)) == 0))

    obs = None
    if observe:
        obs = Observation("jsv_metrics")
        annotated = annotated.observe(
            obs,
            F.count(F.lit(1)).alias("rows_total"),
            F.sum((~F.col(OK_COL)).cast("long")).alias("rows_failed"),
            F.sum(F.size(F.col(VIOLATIONS_COL)).cast("long"))
             .alias("violations_total"))

    keys = [list(k) if isinstance(k, (list, tuple)) else [k]
            for k in cset.unique] if dataset_checks else []
    fused = next((k for k in keys if id_col in k), None)
    ds_viol = (_dataset_checks(df, [k for k in keys if k is not fused],
                               cset, id_col)
               if dataset_checks else None)

    return ValidationResult(
        annotated=annotated,
        constraints=compiled,
        cset=cset,
        id_col=id_col,
        observation=obs,
        _dataset_violations=ds_viol,
        _fused_key=fused,
    )
