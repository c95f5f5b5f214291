"""tools/profile_query.py reads its per-query figures from Spark."""

from __future__ import annotations


def test_phases_reports_each_catalyst_phase(spark):
    """The phase table is a Scala map on the JVM side; the helper must walk
    it and return seconds per phase, not give up and report nothing."""
    from tools.profile_query import _phases

    phases = _phases(spark.range(10).groupBy().count())
    assert {"analysis", "optimization", "planning"} <= set(phases)
    assert all(isinstance(v, float) and v >= 0 for v in phases.values())
