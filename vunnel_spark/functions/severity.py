"""Severity normalization.

The reference normalizes per-source severity vocabularies into the
canonical set {Negligible, Low, Medium, High, Critical, Unknown} with an
explicit rank order used for max-merges:
/root/reference/src/vunnel/utils/vulnerability.py:10-17 (severity_order),
/root/reference/src/vunnel/providers/rhel/parser.py:833-849,
/root/reference/src/vunnel/providers/debian/parser.py:356-374.

Implemented as pure Catalyst expressions (CASE chains / map literals) so
severity handling never leaves codegen.  The debian max-merge keeps its
own rank map (pipelines/debian.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# per-source vocabulary -> canonical (union of the reference's mappings)
_CANONICAL = {
    "negligible": "Negligible",
    "unimportant": "Negligible",
    "low": "Low",
    "minor": "Low",
    "moderate": "Medium",
    "medium": "Medium",
    "important": "High",
    "high": "High",
    "critical": "Critical",
    "urgent": "Critical",
    "not yet assigned": "Unknown",
    "unknown": "Unknown",
    "end-of-life": "Negligible",
}


def normalize_severity(col: Column) -> Column:
    """Map a raw severity string to the canonical vocabulary (CASE chain)."""
    expr = F.lit("Unknown")
    lowered = F.lower(F.trim(col))
    for raw, canon in _CANONICAL.items():
        expr = F.when(lowered == raw, F.lit(canon)).otherwise(expr)
    return expr


def rhel_severity(col: Column) -> Column:
    """EXACT rhel threat_severity normalization (rhel/parser.py:833-849):
    falsy (NULL or '') -> Unknown; otherwise lower() THEN the five-token
    chain critical/important/moderate/low/unknown, anything else
    Unknown.  No strip — the reference lowercases only, so
    'Critical ' (trailing space) is Unknown."""
    lowered = F.lower(col)
    return (
        F.when(F.coalesce(col, F.lit("")) == "", "Unknown")
        .when(lowered == "critical", "Critical")
        .when(lowered == "important", "High")
        .when(lowered == "moderate", "Medium")
        .when(lowered == "low", "Low")
        .otherwise("Unknown")  # 'unknown' and every other token
    )


def github_severity(col: Column) -> Column:
    """EXACT GHSA severity normalization (github/parser.py:595-602):
    case-SENSITIVE dict get over the four UPPER feed tokens with
    'Unknown' default — 'Moderate' (mixed case) is Unknown, unlike the
    rhel map which lowercases first."""
    return (
        F.when(col == "LOW", "Low")
        .when(col == "MODERATE", "Medium")
        .when(col == "HIGH", "High")
        .when(col == "CRITICAL", "Critical")
        .otherwise("Unknown")
    )


def debian_severity(urgency: Column, nvd_severity: Column) -> Column:
    """EXACT debian urgency normalization (debian/parser.py:356-374):
    when the urgency key is present (non-NULL here), the case-SENSITIVE
    token lists low/low**, medium/medium**, high/high**, unimportant
    map to Low/Medium/High/Negligible; any other token (including
    'not yet assigned', 'end-of-life', '') falls back to the record's
    nvd severity when truthy, else Unknown.  When urgency is absent the
    same nvd-else-Unknown fallback applies."""
    nvd = F.when(F.coalesce(nvd_severity, F.lit("")) != "", nvd_severity)
    return (
        F.when(urgency.isNull(), F.coalesce(nvd, F.lit("Unknown")))
        .when(urgency.isin("low", "low**"), "Low")
        .when(urgency.isin("medium", "medium**"), "Medium")
        .when(urgency.isin("high", "high**"), "High")
        .when(urgency == "unimportant", "Negligible")
        .otherwise(F.coalesce(nvd, F.lit("Unknown")))
    )

