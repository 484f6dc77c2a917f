"""Spark-Connect capability boundary of the plan/session tooling
(VERDICT r13 wrong #2): the py4j-backed helpers must degrade or raise
CLEARLY on a Connect session instead of AttributeError-ing deep in
py4j internals. Connect is simulated by stub objects with no ``_jdf``
/ a ``connect``-module type — the real client classes have exactly
those observable properties, and no Connect server exists in-sandbox.
"""

from __future__ import annotations

import pytest


class _StubConnectDF:
    """Shape of a pyspark.sql.connect DataFrame as the lint helpers
    see it: no ``_jdf``, but ``explain(mode=...)`` prints plan text."""

    def __init__(self, text: str):
        self._text = text

    def explain(self, mode: str | None = None) -> None:
        print(self._text)


def test_formatted_plan_degrades_to_explain_text_without_jdf():
    from duckdb_vortex_spark.plans.lint import formatted_plan

    df = _StubConnectDF("== Physical Plan ==\n(2) CartesianProduct\n(1) Scan parquet")
    text = formatted_plan(df)
    assert "CartesianProduct" in text


def test_lint_plan_marker_rules_work_on_connect_stub():
    from duckdb_vortex_spark.plans.lint import lint_plan

    dirty = _StubConnectDF("(3) BroadcastNestedLoopJoin\n(2) CartesianProduct")
    rules = {f.rule for f in lint_plan(dirty)}
    assert rules == {"cartesian-product", "nested-loop-join"}
    clean = _StubConnectDF("(2) BroadcastHashJoin\n(1) Scan parquet")
    assert lint_plan(clean) == []


def test_lint_final_plan_raises_classic_required_on_connect():
    from duckdb_vortex_spark.plans.lint import lint_final_plan

    with pytest.raises(RuntimeError, match="Classic"):
        lint_final_plan(_StubConnectDF("whatever"))


def test_quiet_accumulator_noise_noops_on_connect_session():
    """The log4j2 install needs the client-side JVM; on Connect it must
    return False (documented no-op), never touch py4j. The capability
    check is behavioral (sparkContext access raising), deliberately
    NOT a module-name sniff — a Classic session subclassed in a module
    whose path merely contains 'connect' must not be misrouted
    (r14 review)."""
    from duckdb_vortex_spark.session import quiet_accumulator_noise

    class _NoContextAttr:  # Connect-shaped: no sparkContext at all
        pass

    assert quiet_accumulator_noise(_NoContextAttr()) is False

    class _RaisingContext:
        # sparkContext property that raises, like Connect's session
        @property
        def sparkContext(self):
            raise NotImplementedError("sparkContext() is not implemented")

    assert quiet_accumulator_noise(_RaisingContext()) is False


def test_remote_fs_scan_paths_labeled_size_unchecked():
    """ADVICE r13: hdfs:///s3a:// scan locations can never pass an
    os.path stat — they must flag as 'remote path, size unchecked',
    distinct from the renderer-truncation flag."""
    from duckdb_vortex_spark.plans.lint import heuristic_broadcast_findings

    plan = (
        "+- BroadcastExchange HashedRelationBroadcastMode, [plan_id=1]\n"
        "   +- *(1) Filter isnotnull(k#0L)\n"
        "      +- FileScan parquet [k#0L] Location: InMemoryFileIndex"
        "(1 paths)[s3a://corpus-bucket/dim/table.parquet]"
    )
    hits = heuristic_broadcast_findings(None, min_bytes=1024, plan=plan)
    assert len(hits) == 1
    assert hits[0].startswith("remote path, size unchecked:"), hits
    assert "s3a://corpus-bucket" in hits[0]
    # hdfs scheme takes the same label
    hdfs = plan.replace("s3a://corpus-bucket", "hdfs://nn:8020/warehouse")
    hits = heuristic_broadcast_findings(None, min_bytes=1024, plan=hdfs)
    assert hits and hits[0].startswith("remote path, size unchecked:")
    # and the truncation label stays reserved for actual truncation
    assert "truncated" not in hits[0]


def test_land_session_dataset_raises_classic_required_on_connect():
    """VERDICT r14 wrong #3: the driver-local landing helper read
    ``sparkContext.applicationId`` OUTSIDE its py4j guard, so on
    Connect it raised PySpark's opaque sparkContext error instead of
    the clear Classic-required message the lint/session modules give.
    The whole helper is Classic-only by nature (a client-local temp
    dir is not server-visible), so it must refuse loudly — and via
    the behavioral check (sparkContext access raising), not a
    module-name sniff."""
    from duckdb_vortex_spark.streaming.sinks import land_session_dataset

    class _ConnectSession:
        @property
        def sparkContext(self):
            raise NotImplementedError("sparkContext() is not implemented.")

    class _ConnectDF:
        sparkSession = _ConnectSession()

    with pytest.raises(RuntimeError, match="Classic"):
        land_session_dataset(_ConnectDF(), "guardtag")

    class _NoContextAttrSession:  # Connect-shaped: attribute missing
        pass

    class _NoContextDF:
        sparkSession = _NoContextAttrSession()

    with pytest.raises(RuntimeError, match="Classic"):
        land_session_dataset(_NoContextDF(), "guardtag")
