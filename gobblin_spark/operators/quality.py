"""Row- and task-level quality gates.

≙ gobblin-api/src/main/java/gobblin/qualitychecker/row/RowLevelPolicy.java:30-43
(Type {FAIL, ERR_FILE, OPTIONAL}) executed by
RowLevelPolicyChecker.executePolicies
(gobblin-core/.../qualitychecker/row/RowLevelPolicyChecker.java:48-68), and
task-level policies (RowCountPolicy / RowCountRangePolicy /
SchemaCompatibilityPolicy under gobblin-core/.../policies/) gating publish
via TaskPublisher.canPublish (gobblin-core/.../publisher/TaskPublisher.java).

Spark shape: a row policy is a Column predicate; the checker splits the
frame into pass/fail ONCE (no double scan: failures are counted with an
aggregate on the same cached plan) and ships failures to an err path —
the reference's err-file semantics.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


class PolicyType(Enum):
    FAIL = "FAIL"          # any violation aborts the task
    ERR_FILE = "ERR_FILE"  # violations diverted to an error sink
    OPTIONAL = "OPTIONAL"  # violations only counted


class PolicyViolation(RuntimeError):
    pass


@dataclass
class RowLevelPolicy:
    name: str
    predicate: Any  # Column: True = row passes
    type: PolicyType = PolicyType.OPTIONAL


@dataclass
class RowQualityResult:
    passed: DataFrame
    failed: DataFrame
    counts: dict[str, int] = field(default_factory=dict)
    # rows in `passed`, measured by the SAME aggregate that produced the
    # violation counts — callers must not re-count (extra batch scan)
    passed_count: int | None = None


class RowLevelPolicyChecker:
    def __init__(self, policies: list[RowLevelPolicy],
                 err_path: str | None = None):
        self.policies = policies
        self.err_path = err_path

    def execute(self, df: DataFrame, run_id: str | None = None) -> RowQualityResult:
        """Split into pass/fail, enforcing FAIL policies.

        One pass: per-policy violation counts come from a single aggregate;
        the pass/fail split reuses the same plan. At scale this is two scans
        of the batch (count + write) — acceptable because batch ≪ table; an
        observation-based single-scan variant is possible but hides the
        err-file split.

        run_id (e.g. the batch id) keys the err-file sink: failures land in
        ``{err_path}/run_id={run_id}`` with overwrite, so a crash-replayed
        batch rewrites the same quarantine partition instead of appending
        duplicates (the target table converges via idempotent MERGE; the err
        sink must converge the same way).
        """
        if not self.policies:
            return RowQualityResult(df, df.limit(0), {})
        hard = [p.predicate for p in self.policies
                if p.type == PolicyType.ERR_FILE]
        all_pass = None
        for pr in hard:
            all_pass = pr if all_pass is None else (all_pass & pr)
        # ONE aggregate yields per-policy violation counts, the total AND
        # the passed-row count — downstream (task gates, metrics) must not
        # re-scan the batch just to count rows.
        agg = df.agg(
            *[
                F.sum((~p.predicate).cast("long")).alias(p.name)
                for p in self.policies
            ],
            F.count(F.lit(1)).alias("__total"),
            F.sum((all_pass if all_pass is not None else F.lit(True))
                  .cast("long")).alias("__passed"),
        ).collect()[0]
        counts = {p.name: int(agg[p.name] or 0) for p in self.policies}
        passed_count = int(agg["__passed"] or 0)
        for p in self.policies:
            if p.type == PolicyType.FAIL and counts[p.name] > 0:
                raise PolicyViolation(
                    f"row policy {p.name} failed for {counts[p.name]} rows"
                )
        if not hard:
            return RowQualityResult(df, df.limit(0), counts,
                                    passed_count=passed_count)
        passed = df.filter(all_pass)
        failed = df.filter(~all_pass)
        if self.err_path:
            # run_id is REQUIRED with an err_path: the quarantine write is
            # only idempotent under replay because each run overwrites its
            # own run_id=<id> subdirectory. A plain append would duplicate
            # quarantined rows on every retry.
            if run_id is None:
                raise ValueError(
                    "RowLevelPolicyChecker with err_path requires run_id "
                    "for idempotent quarantine writes"
                )
            import os

            failed.write.mode("overwrite").parquet(
                os.path.join(self.err_path, f"run_id={run_id}")
            )
        return RowQualityResult(passed, failed, counts,
                                passed_count=passed_count)


# ------------------------------------------------------------- task policies
@dataclass
class RowCountPolicy:
    """rows written == rows expected (≙ policies/count/RowCountPolicy.java)."""

    expected: int

    def check(self, actual: int) -> bool:
        return actual == self.expected


@dataclass
class RowCountRangePolicy:
    """|written/expected - 1| <= deviation
    (≙ policies/count/RowCountRangePolicy.java)."""

    expected: int
    deviation: float = 0.05

    def check(self, actual: int) -> bool:
        if self.expected == 0:
            return actual == 0
        return abs(actual / self.expected - 1.0) <= self.deviation


@dataclass
class SchemaCompatibilityPolicy:
    """df schema equals expected (names+types, nullability ignored)
    (≙ policies/schema/SchemaCompatibilityPolicy.java)."""

    expected: StructType

    def check(self, schema: StructType) -> bool:
        got = [(f.name, f.dataType.simpleString()) for f in schema.fields]
        want = [(f.name, f.dataType.simpleString()) for f in self.expected.fields]
        return got == want
