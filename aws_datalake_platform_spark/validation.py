"""Great-Expectations-style data validation, Spark-first.

API parity with the reference's ``DataValidator``
(reference: scripts/glue_transform/transform.py:51-118): the same four
expectation methods, the same fluent chaining, the same result dicts.

Execution is different by design: the reference runs ``df.count()`` +
``df.filter(...).count()`` per expectation — 13+ full scans per run
(transform.py:66-67,79-82,98). Here every expectation compiles to a
conditional-sum column and the whole suite executes as ONE aggregate
pass (one scan, one job), which is the difference between minutes and
hours at 100 TB. Results are identical.

Also implements ``expect_column_values_to_be_of_type``, which the
reference declares but never implements (transform.py:57).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class ExpectationResult:
    """Mirrors the reference's ExpectationResult (transform.py:36-48)."""

    expectation_type: str
    success: bool
    details: dict[str, Any] = field(default_factory=dict)

    def to_dict(self) -> dict[str, Any]:
        return {
            "expectation_type": self.expectation_type,
            "success": self.success,
            "details": self.details,
        }


def _cnt(cond: Column) -> Column:
    # sum(when(cond,1).otherwise(0)) — a partial-aggregatable conditional
    # count; Catalyst fuses any number of these into one HashAggregate.
    return F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0)))


class DataValidator:
    """Fluent validator; expectations are lazy until ``validate()``.

    >>> result = (DataValidator(df, "raw_weather")
    ...           .expect_column_values_to_not_be_null("city")
    ...           .expect_column_values_to_be_between("temperature_c", -90.0, 60.0)
    ...           .expect_table_row_count_to_be_greater_than(0)
    ...           .validate())
    """

    def __init__(self, df: DataFrame, dataset_name: str):
        self.df = df
        self.dataset_name = dataset_name
        # (expectation_type, agg_column or None, finisher(total, value) -> ExpectationResult)
        self._pending: list[tuple[str, Column | None, Any]] = []

    # ── expectations (API parity with transform.py:65-105) ──────────────────

    def expect_column_values_to_not_be_null(self, column: str) -> "DataValidator":
        def finish(total: int, nulls: int) -> ExpectationResult:
            return ExpectationResult(
                "expect_column_values_to_not_be_null",
                nulls == 0,
                {"column": column, "null_count": nulls, "total_count": total},
            )

        self._pending.append(
            ("expect_column_values_to_not_be_null", _cnt(F.col(column).isNull()), finish)
        )
        return self

    def expect_column_values_to_be_between(
        self, column: str, min_value: float, max_value: float
    ) -> "DataValidator":
        # Matches the reference predicate exactly: (col < min) | (col > max)
        # — NULLs are neither, so they don't count as out-of-range
        # (transform.py:80-82).
        cond = (F.col(column) < min_value) | (F.col(column) > max_value)

        def finish(total: int, out_of_range: int) -> ExpectationResult:
            return ExpectationResult(
                "expect_column_values_to_be_between",
                out_of_range == 0,
                {
                    "column": column,
                    "min": min_value,
                    "max": max_value,
                    "out_of_range_count": out_of_range,
                    "total_count": total,
                },
            )

        self._pending.append(("expect_column_values_to_be_between", _cnt(cond), finish))
        return self

    def expect_table_row_count_to_be_greater_than(self, value: int) -> "DataValidator":
        def finish(total: int, _: int) -> ExpectationResult:
            return ExpectationResult(
                "expect_table_row_count_to_be_greater_than",
                total > value,
                {"row_count": total, "min_expected": value},
            )

        self._pending.append(("expect_table_row_count_to_be_greater_than", None, finish))
        return self

    def expect_column_values_to_be_unique(self, column: str) -> "DataValidator":
        """Primary-key uniqueness: non_unique = count(*) - count(DISTINCT col).

        NULL keys count as violations too (count(*) includes them, the
        distinct count ignores them — and a primary key is non-null by
        definition). Fuses into the same single aggregate pass as every
        other expectation; Catalyst plans the distinct leg with Expand,
        still one scan.
        """

        def finish(total: int, non_unique: int) -> ExpectationResult:
            return ExpectationResult(
                "expect_column_values_to_be_unique",
                non_unique == 0,
                {"column": column, "non_unique_count": non_unique, "total_count": total},
            )

        self._pending.append(
            (
                "expect_column_values_to_be_unique",
                F.count(F.lit(1)) - F.count_distinct(F.col(column)),
                finish,
            )
        )
        return self

    def expect_column_values_to_be_of_type(self, column: str, type_name: str) -> "DataValidator":
        # Schema-level check — no scan needed (declared but unimplemented in
        # the reference, transform.py:57).
        actual = dict(self.df.dtypes).get(column)

        def finish(total: int, _: int) -> ExpectationResult:
            return ExpectationResult(
                "expect_column_values_to_be_of_type",
                actual == type_name,
                {"column": column, "expected_type": type_name, "actual_type": actual},
            )

        self._pending.append(("expect_column_values_to_be_of_type", None, finish))
        return self

    # ── execution ────────────────────────────────────────────────────────────

    def validate(self) -> dict[str, Any]:
        """Run all expectations in ONE aggregate scan; return the reference's
        summary dict shape (transform.py:107-118)."""
        aggs = [F.count(F.lit(1)).alias("__total")]
        for i, (_, col, _fin) in enumerate(self._pending):
            if col is not None:
                aggs.append(col.alias(f"__e{i}"))
        row = self.df.agg(*aggs).collect()[0] if self._pending else {"__total": 0}
        total = row["__total"] if self._pending else 0

        results = []
        for i, (_, col, finish) in enumerate(self._pending):
            value = (row[f"__e{i}"] or 0) if col is not None else 0
            results.append(finish(total, value))

        passed = sum(1 for r in results if r.success)
        failed = len(results) - passed
        return {
            "dataset": self.dataset_name,
            "expectations_evaluated": len(results),
            "expectations_passed": passed,
            "expectations_failed": failed,
            "success": failed == 0,
            "results": [r.to_dict() for r in results],
        }


class DuplicateKeyError(ValueError):
    """A declared primary-key column carries duplicate (or NULL) values.

    Raised by ``require_unique_key`` so that queries whose semantics are
    undefined on PK-violating input fail LOUDLY instead of silently
    returning engine-dependent numbers (the constant-lake probe's six
    documented artifact queries — see scripts/degenerate_probe.py).
    """


def require_unique_key(df: DataFrame, column: str, dataset: str) -> None:
    """One-aggregate loud guard: raise ``DuplicateKeyError`` unless
    ``column`` is a valid primary key of ``df`` (unique and non-null).

    The lake contract treats id columns as primary keys (the reference's
    Glue DDL declares them as such); exact dedup (q22) is the prescribed
    upstream repair when this guard fires.
    """
    report = (
        DataValidator(df, dataset)
        .expect_column_values_to_be_unique(column)
        .validate()
    )
    if not report["success"]:
        det = report["results"][0]["details"]
        raise DuplicateKeyError(
            f"{dataset}.{column}: {det['non_unique_count']} of "
            f"{det['total_count']} rows violate primary-key uniqueness "
            "(duplicate or NULL ids). Query semantics are undefined on "
            "PK-violating input — run exact dedup (q22) or "
            "`python -m aws_datalake_platform_spark validate-lake` "
            "to locate the offending rows."
        )

