"""OVAL criteria-tree flattening (SURVEY E3/E4, F4).

The reference walks recursive AND/OR criteria trees per definition
(/root/reference/src/vunnel/utils/oval_v2.py:139-271; oracle variant with
inherited context: providers/oracle/oval_parser.py:209-247), emitting
which (namespace_test, package_test) pairs gate a vulnerability.

Spark form: a UDTF-shaped Arrow row stage (``vunnel_spark.row_stage``)
— one document row in, many typed rows out — applied at parse time.
The tree arrives as a JSON column (from spark-xml, from_json, or raw);
recursion happens in Python once per document, after which everything
downstream is relational.

Quirk preserved deliberately: like the reference (oval_v2.py:181-241),
an AND group pairs its namespace test with package tests found in its
OR subtrees; nested groups inherit the nearest enclosing namespace test.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from vunnel_spark.row_stage import row_stage

CRITERIA_ROWS_SCHEMA = (
    "doc_id string, namespace_test string, package_test string, polarity string"
)


def _walk(node: dict, ns_test: str | None, out: list, is_ns) -> None:
    """Depth-first walk: criterions classify as namespace- or package-tests
    via ``is_ns``; package tests pair with the nearest enclosing ns test."""
    for crit in node.get("criterions", []) or []:
        ref = crit.get("test_ref")
        if ref is None:
            continue
        if is_ns(ref):
            ns_test = ref
        else:
            out.append((ns_test, ref, "negate" if crit.get("negate") else "affirm"))
    for child in node.get("children", []) or []:
        _walk(child, ns_test, out, is_ns)


def flatten_criteria_json(doc_id: str, criteria_json: str, ns_prefix: str = "ns:") -> list[tuple]:
    """Pure-python core (unit-testable without Spark)."""
    try:
        tree = json.loads(criteria_json) if criteria_json else None
    except (ValueError, TypeError):
        return [(doc_id, None, None, "parse_error")]
    if not tree:
        return []
    out: list = []
    _walk(tree, None, out, lambda ref: ref.startswith(ns_prefix))
    return [(doc_id, ns, pkg, pol) for ns, pkg, pol in out]


CRITERIA_CTX_ROWS_SCHEMA = (
    "doc_id string, namespace string, package string, version string, "
    "module string, arch string"
)

_DEFAULT_PATTERNS = {
    # match the reference's Oracle config shapes (providers/oracle/parser_factory
    # wiring into oval_parser.py Config): comment-text classification
    "pkg": r"^(\S+)\s+is earlier than\s+(\S+)$",
    "ns": r"^(.+)\s+is installed$",
    "module": r"^Module\s+(\S+)\s+is enabled$",
    "arch": r"^Architecture\s+is\s+(\S+)$",
}


def _collect_affected(
    node: dict, patterns: dict, arch: str | None = None, module: str | None = None
) -> tuple:
    """Context-inheriting walk of one criteria group (SURVEY E4).

    Mirrors reference providers/oracle/oval_parser.py:234-277: a node's
    criterions are scanned FIRST, so a module/arch criterion sets the
    node-local context for every package test in the same node (listing
    order inside the node does not matter) and is inherited by child
    groups; the namespace bubbles UP (a child group that names the OS
    release sets it for the whole group).  Returns
    ``(ns_name, [(pkg, version, module, arch), ...])``.
    """
    import re as _re

    ns_name = None
    local_arch, local_module = arch, module
    versions: list = []
    for crit in node.get("criterions", []) or []:
        comment = crit.get("comment") or ""
        m = _re.search(patterns["pkg"], comment)
        if m:
            versions.append((m.group(1), m.group(2)))
            continue
        m = _re.search(patterns["ns"], comment)
        if m:
            ns_name = m.group(1)
            continue
        m = _re.search(patterns["module"], comment)
        if m:
            local_module = m.group(1)
            continue
        m = _re.search(patterns["arch"], comment)
        if m:
            local_arch = m.group(1)

    affected = [(pkg, ver, local_module, local_arch) for pkg, ver in versions]
    for child in node.get("children", []) or []:
        child_ns, child_affected = _collect_affected(
            child, patterns, local_arch, local_module
        )
        if child_ns:
            ns_name = child_ns
        affected.extend(child_affected)
    return ns_name, affected


def collect_affected_json(
    doc_id: str, criteria_json: str, patterns: dict | None = None
) -> list[tuple]:
    """Pure-python E4 core: criteria tree -> (doc, ns, pkg, ver, module, arch).

    Like the reference (oval_parser.py:209-231), an outermost OR splits
    into per-platform groups, each walked independently; an outermost AND
    is itself the single group.  Rows from a group with no namespace or no
    packages are dropped (reference logs-and-skips the same way).
    """
    patterns = patterns or _DEFAULT_PATTERNS
    try:
        tree = json.loads(criteria_json) if criteria_json else None
    except (ValueError, TypeError):
        return [(doc_id, None, None, None, None, "parse_error")]
    if not tree:
        return []
    if (tree.get("operator") or "").upper() == "OR":
        groups = tree.get("children", []) or []
    else:
        groups = [tree]
    out: list = []
    for group in groups:
        ns_name, affected = _collect_affected(group, patterns)
        if not ns_name or not affected:
            continue
        # set-dedup like the reference's ns_pkgs_dict set union
        for pkg, ver, mod, arch in sorted(set(affected)):
            out.append((doc_id, ns_name, pkg, ver, mod, arch))
    return out


def flatten_criteria_ctx(
    df: DataFrame,
    id_col: str = "doc_id",
    criteria_col: str = "criteria",
    patterns: dict | None = None,
) -> DataFrame:
    """(id, criteria_json) -> (doc_id, namespace, package, version, module,
    arch) rows with module/arch inherited down branches (E4)."""

    def affected(did, cj):
        return collect_affected_json(str(did), cj, patterns)

    return row_stage(
        df.select(id_col, criteria_col), CRITERIA_CTX_ROWS_SCHEMA,
        (id_col, criteria_col), affected,
    )


def flatten_criteria(
    df: DataFrame, id_col: str = "doc_id", criteria_col: str = "criteria", ns_prefix: str = "ns:"
) -> DataFrame:
    """(id, criteria_json) -> exploded (doc_id, namespace_test,
    package_test, polarity) rows."""

    def pairs(did, cj):
        return flatten_criteria_json(str(did), cj, ns_prefix)

    return row_stage(
        df.select(id_col, criteria_col), CRITERIA_ROWS_SCHEMA,
        (id_col, criteria_col), pairs,
    )
