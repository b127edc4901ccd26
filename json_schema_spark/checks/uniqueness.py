"""Dataset-level uniqueness — the scale generalization of `uniqueItems`
(/root/reference/src/Validator.php:1383-1410 checks one in-memory array; here
the "array" is 10^12 urls).

Semantics: the "embedded uniqueness constraint" — a row whose key has a
NULL column takes no part in uniqueness. Such rows are left out of the
key count, and the row-level violations `validate()` counts alongside it
are counted one row per group for them, so no reducer ever receives a hot
NULL key.

Skew story (north_rule: "partitioning / shuffle / skew handled explicitly"):

1. The count aggregation uses Spark's partial (map-side) aggregation — each
   task emits at most one (key, partial_count) row per distinct key, so even
   a key owning 10% of the table reaches the reducer as ≤ num_tasks rows,
   not 10^11 rows. This is the two-phase aggregation; HashAggregate does it
   automatically and `duplicate_keys(..., salt_buckets=n)` materializes the
   same plan with an explicit salt for engines/readers that want it visible.
2. When the key contains the id column (the flagship's url key), the
   violation rows come straight out of the aggregate — `count` copies of
   (id, constraint_id, key) — so the input is read once and nothing is
   joined (`counted_violations`; `validate()` feeds the row-level
   violations through the same aggregate). A hot key's copies are all
   emitted by the one reducer task that owns the key, in REPEAT_CHUNK-sized
   arrays (`repeat_rows`), so the task's memory stays bounded; its
   row-level violations are counted per input task and so stay spread.
3. Only a key without the id joins the duplicated keys back to the rows to
   recover their ids; that join is the one place AQE skew-join splitting
   (enabled in the session defaults) still matters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from json_schema_spark.constraints.evaluator import VIOLATION_TYPE


def duplicate_keys(df: DataFrame, key_cols: list[str],
                   salt_buckets: int | None = None) -> DataFrame:
    """Keys appearing more than once → (key..., dup_count).

    With ``salt_buckets`` the two-phase (salted partial → final) aggregation
    is written out explicitly: phase 1 groups by (key, salt) — hot keys are
    spread over ``salt_buckets`` reducers — phase 2 sums the partials by key.
    Without it, Spark's own partial aggregation achieves the same data
    movement for count(); the explicit form exists for skew-sensitive aggs
    and for auditability of the plan.
    """
    if salt_buckets:
        salted = df.select(*key_cols).withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.monotonically_increasing_id()),
                   F.lit(salt_buckets)))
        partial = (salted.groupBy(*key_cols, "_salt")
                   .agg(F.count(F.lit(1)).alias("_partial")))
        counts = (partial.groupBy(*key_cols)
                  .agg(F.sum("_partial").alias("dup_count")))
    else:
        counts = (df.groupBy(*key_cols)
                  .agg(F.count(F.lit(1)).alias("dup_count")))
    return counts.filter(F.col("dup_count") > 1)


def constraint_id(key_cols: list[str]) -> str:
    return ".".join(key_cols) + ".unique"


def observed_value(key_cols: list[str]) -> Column:
    return F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])


# most copies of one row a single generated array holds (repeat_rows)
REPEAT_CHUNK = 1 << 16


def repeat_rows(df: DataFrame, cols: dict[str, Column],
                count: Column) -> DataFrame:
    """The columns ``cols`` (name -> expression) of each row of ``df``,
    ``count`` times; none when ``count`` is NULL or below 1.

    A row repeated 10^9 times must not become 10^9 rows in memory at
    once. So its copies come from two generators: chunk offsets (one per
    REPEAT_CHUNK copies), then at most REPEAT_CHUNK copies per offset. The
    second runs interpreted — ``transform`` is a CodegenFallback, which
    keeps that Generate out of whole-stage codegen — because a codegen'd
    stage buffers every row generated from one input row before it hands
    any on, while the interpreted Generate hands each offset's copies on
    before it builds the next. The long count is never narrowed to int.
    """
    # the internal columns are written as SQL text: each Column operator
    # costs JVM round trips when the plan is built
    first, *rest = cols
    offsets = df.select(
        *[c.alias(name) for name, c in cols.items()], count.alias("_n"),
        F.explode(F.when(count > 0, F.sequence(
            F.lit(0), count - 1, F.lit(REPEAT_CHUNK)))).alias("_offset"))
    return offsets.select(F.expr(
        f"explode(transform(array_repeat(`{first.replace('`', '``')}`, "
        f"CAST(least(_n - _offset, {REPEAT_CHUNK}) AS INT)), c -> c))")
        .alias(first), *rest)


def counted_violations(df: DataFrame, key_cols: list[str], id_col: str,
                       row_violations: Column) -> DataFrame:
    """Row-level and ``<key>.unique`` violation rows of ``df`` from ONE
    count aggregate; ``key_cols`` contains ``id_col`` and
    ``row_violations`` is each row's array of (constraint_id,
    observed_value) structs.

    Each row contributes its violation structs and, when its key has no
    NULL column, one NULL presence marker. Markers are counted per key —
    map-side combined, so a url crawled 10^6 times reaches its reducer as
    one counter per task — and a key counted more than once becomes
    ``count`` uniqueness rows. Violation structs are counted per (key,
    struct, input task), or per row when the key has a NULL column, so
    the copies of a hot or NULL key's violations stay spread over the
    tasks they came from. Same rows as the row-level explode ∪ a
    join-back uniqueness check.
    """
    complete = F.col(key_cols[0]).isNotNull()
    for c in key_cols[1:]:
        complete = complete & F.col(c).isNotNull()
    marker = F.when(complete, F.array(F.lit(None).cast(VIOLATION_TYPE))) \
        .otherwise(F.array().cast(f"array<{VIOLATION_TYPE}>"))
    origin = F.when(complete, F.spark_partition_id()) \
        .otherwise(F.monotonically_increasing_id())
    counts = (
        df
        .select(*key_cols, origin.alias("_origin"),
                F.explode(F.concat(row_violations, marker)).alias("v"))
        .groupBy(*key_cols, "v", F.expr(
            "IF(v IS NULL, NULL, _origin) AS _origin"))
        .count())
    presence = F.col("v").isNull()
    return repeat_rows(counts, {
        id_col: F.col(id_col).cast("string"),
        "constraint_id": F.when(presence, F.lit(constraint_id(key_cols)))
                          .otherwise(F.col("v.constraint_id")),
        "observed_value": F.when(presence, observed_value(key_cols))
                           .otherwise(F.col("v.observed_value")),
    }, F.expr("IF(v IS NULL AND count < 2, NULL, count)"))


def uniqueness_violations(df: DataFrame, key_cols: list[str],
                          id_col: str = "url") -> DataFrame:
    """Violation rows (id, constraint_id, observed_value) for duplicated
    keys, matching the engine's violations schema. Rows whose key has a
    NULL column take no part."""
    if id_col in key_cols:
        # all rows of a key share its id: emit them from the aggregate
        no_violations = F.array().cast(f"array<{VIOLATION_TYPE}>")
        return counted_violations(df, key_cols, id_col, no_violations)
    keyed = df.dropna(subset=key_cols)
    joined = keyed.select(id_col, *key_cols).join(
        duplicate_keys(keyed, key_cols).drop("dup_count"),
        on=key_cols, how="inner")
    return joined.select(
        F.col(id_col).cast("string").alias(id_col),
        F.lit(constraint_id(key_cols)).alias("constraint_id"),
        observed_value(key_cols).alias("observed_value"))
