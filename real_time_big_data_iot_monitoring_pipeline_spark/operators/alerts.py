"""Threshold alert engine (SURVEY §2.10 M4, §2.4 A15; reference
``streamlit_dashboard.py:209-297``).

The reference builds four Python lists by scanning the frame once per
rule.  Here each rule is a declarative filter and the union is a
zero-shuffle `unionByName`.  Catalyst does not merge the union's
branches, so the executed plan still scans the input once per rule: the
dashboard's alert feed (three rules plus the IQR branch, whose fences
take a scan of their own) reads every window row five times.  Give it a
materialized input when the input is expensive to produce, as
``dashboard.full_dashboard`` does with its local checkpoint.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class AlertRule:
    """One threshold rule: rows matching `condition` become alerts of
    `alert_type`; `critical` refines them into critical vs warning."""

    alert_type: str
    condition: Column
    critical: Column


def apply_rules(df: DataFrame, rules: list[AlertRule]) -> DataFrame:
    """All alerts with full row context + alert_type + severity columns."""
    parts = []
    for r in rules:
        parts.append(
            df.filter(r.condition).select(
                "*",
                F.lit(r.alert_type).alias("alert_type"),
                F.when(r.critical, F.lit("critical")).otherwise(F.lit("warning")).alias("severity"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def severity_rollup(alerts: DataFrame) -> DataFrame:
    """Counts by (alert_type, severity) — the dashboard's severity summary
    (reference ``streamlit_dashboard.py:268-297``)."""
    return alerts.groupBy("alert_type", "severity").agg(F.count(F.lit(1)).alias("cnt"))
