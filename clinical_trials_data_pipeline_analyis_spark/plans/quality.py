"""Data-quality gate for silver.studies.

Encodes the reference's de-facto correctness method — its ~1,650 lines of
exploratory QA queries (``aact_silver_layer.sql:567-2215``) — as
executable invariants (SURVEY.md §5 table). Each check reports the number
of violating rows (0 == pass) so the suite can run as a post-write gate
in the pipeline driver and as pytest assertions.

The row checks are one ordered table (``row_checks``): a name, the layer
it reads, and a Column that is true on a violating row. A NULL predicate
counts as no violation, as ``filter`` would treat it. The table is
evaluated in two aggregates, so the gate costs two Spark actions however
many checks it holds:

- one ``groupBy("nct_id")`` over silver, reduced to one row. The primary
  key check needs that shuffle anyway; every silver predicate and the
  silver row total ride on it as ``count_if`` sums, where one job per
  check would rescan silver each time;
- one global aggregate over bronze: its predicates plus the bronze row
  total for row preservation.

A new check is one more entry in the table, i.e. one more column in an
aggregate that already runs, not one more job.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig


@dataclass(frozen=True)
class CheckResult:
    name: str
    violations: int

    @property
    def passed(self) -> bool:
        return self.violations == 0


PHASE_DOMAIN = ["PHASE 1", "PHASE 2", "PHASE 3", "PHASE 4", "Not Applicable"]
OVERALL_STATUS_DOMAIN = ["Active", "Complete", "Stopped", "Unknown"]
YES_NO_UNKNOWN = ["Yes", "No", "Unknown"]

#: silver.studies columns that imputation must leave with no NULLs
IMPUTED_COLUMNS = [
    "report_status", "start_date_type", "verification_date_type",
    "completion_date_type", "primary_completion_date_type", "study_type",
    "acronym", "baseline_population", "brief_title", "official_title",
    "overall_status", "last_known_status", "phase", "enrollment",
    "enrollment_type", "source", "limitations_and_caveats",
    "number_of_participants_groups", "why_stopped",
    "why_stopped_category", "has_expanded_access", "has_dmc",
    "is_fda_regulated_drug", "is_fda_regulated_device",
    "is_unapproved_device", "is_ppsd", "is_us_export",
    "biospec_retention", "source_class", "delayed_posting",
    "expanded_access_status_for_nctid", "fdaaa801_violation",
    "patient_registry", "target_duration_flag",
]


def _outside(col: str, allowed: list[str]) -> Column:
    return ~F.col(col).isin(allowed) | F.col(col).isNull()


def row_checks(config: PipelineConfig) -> dict[str, tuple[str, Column]]:
    """Check name -> (layer it reads, violating-row predicate), in report
    order; the layer is ``"silver"`` or ``"bronze"``."""
    c = F.col
    # per-study_type enrollment cap; NULL (uncapped) for UNKNOWN, as in the
    # reference's CASE (aact_silver_layer.sql:162-167)
    cap = F.when(
        c("study_type") == "OBSERVATIONAL", config.enrollment_cap_observational
    ).when(c("study_type") == "INTERVENTIONAL", config.enrollment_cap_interventional)
    return {
        # Null-count audit (aact_silver_layer.sql:583-584,697-700).
        "imputed_no_nulls": (
            "silver",
            reduce(or_, [c(col).isNull() for col in IMPUTED_COLUMNS]),
        ),
        # Distribution check after recode (aact_silver_layer.sql:644-646):
        # the recoded domain must be a subset of the declared category set.
        "domain(phase)": ("silver", _outside("phase", PHASE_DOMAIN)),
        "domain(overall_status)": (
            "silver",
            _outside("overall_status", OVERALL_STATUS_DOMAIN),
        ),
        "domain(has_dmc)": ("silver", _outside("has_dmc", YES_NO_UNKNOWN)),
        # Outlier bounds MIN/MAX audit (aact_silver_layer.sql:923-924).
        "start_date_window": (
            "silver",
            ~c("start_date").between(config.min_valid_date, config.analysis_date),
        ),
        "bounds(target_duration_days)": (
            "silver",
            c("target_duration_days") > config.duration_cap_days,
        ),
        "enrollment_caps": (
            "silver",
            (c("enrollment") > cap) | (c("enrollment") < 0),
        ),
        # Mutual-exclusivity proof (aact_silver_layer.sql:966-984): arms and
        # groups are never both set in the source rows.
        "mutex(number_of_arms,number_of_groups)": (
            "bronze",
            c("number_of_arms").isNotNull() & c("number_of_groups").isNotNull(),
        ),
        # Cross-column logic validation (aact_silver_layer.sql:1385-1391).
        "implies(expanded_access_nctid->expanded_access_status_for_nctid)": (
            "silver",
            c("expanded_access_nctid").isNotNull()
            & c("expanded_access_status_for_nctid").isNull(),
        ),
    }


def silver_studies_suite(
    bronze: DataFrame,
    silver: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> list[CheckResult]:
    """The full invariants table from SURVEY.md §5 for silver.studies:
    ``studies_pk``, the row checks, then ``studies_row_preservation``."""
    checks = row_checks(config)

    def count_ifs(layer: str) -> list[Column]:
        return [
            F.count_if(pred).alias(name)
            for name, (on, pred) in checks.items()
            if on == layer
        ]

    # PK uniqueness (replaces ALTER TABLE ADD PRIMARY KEY, S7; duplicate
    # detection QA aact_silver_layer.sql:588-590) counts keys with more than
    # one row; the silver predicates are summed through the same shuffle.
    per_key = silver.groupBy("nct_id").agg(
        F.count(F.lit(1)).alias("_silver_rows"), *count_ifs("silver")
    )
    s = per_key.agg(
        F.count_if(F.col("_silver_rows") > 1).alias("studies_pk"),
        *(F.sum(F.col(f"`{col}`")).alias(col) for col in per_key.columns[1:]),
    ).collect()[0]
    b = bronze.agg(
        F.count(F.lit(1)).alias("_bronze_rows"), *count_ifs("bronze")
    ).collect()[0]
    # sum() over no groups is NULL: an empty silver has no violations
    counts = {k: v or 0 for k, v in {**s.asDict(), **b.asDict()}.items()}
    # Row preservation: the 1:1 CTAS keeps the count (SURVEY §5).
    counts["studies_row_preservation"] = abs(
        counts["_bronze_rows"] - counts["_silver_rows"]
    )
    names = ["studies_pk", *checks, "studies_row_preservation"]
    return [CheckResult(name, counts[name]) for name in names]
