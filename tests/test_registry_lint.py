"""Static lints over every registered oracle's SQL text.

Three external-gate incidents in this project were oracle-portability
bugs, not logic bugs: Spark ``ascii()`` vs DuckDB ``unicode()`` on
non-ASCII (x4, round 4), struct-typed ``list_aggregate('max')``
(x4, round 5), and the per-row double->DECIMAL cast whose
truncate-vs-round behavior differs across DuckDB versions (b1, round
6 — rows/schema green, hash red, while every local engine agreed).
The classes that already bit twice get a lint here so the fourth
incident fails at commit time with a pointer to the postmortem, not
at an external gate three weeks later.

The reachability lint at the end is source-level rather than
oracle-level: product code that only tests reach fails it unless
``ALLOWED`` records why it stays.

Known-but-unlinted hazard (round 8, llm1): ``round(avg(<double>), n)``
over GROUPS is accumulation-order-sensitive — Spark's partial-sum merge
order varies run to run, and a ~1e-16 wobble occasionally crosses the
rounding boundary (llm1 flipped hash one run in ~three at sf0.1 before
its fix).  When the averaged column is itself already rounded to n
decimals, sum exact integer micro-units instead and divide once
(queries/llm_q.py avg_quality).  Not linted because long-stable queries
(tpch q1's canonical avgs) use the raw form with 7 rounds of green
evidence — prefer the micro-units form in NEW queries.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

from vunnel_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()

# CAST(<bare column> AS DECIMAL(p, s>0)): a raw DOUBLE cast to a scaled
# decimal per row.  ~5% of the fixture's cent-valued doubles sit an
# epsilon BELOW their exact cent (3,341/60,000 sf0.01 l_extendedprice),
# so an engine build that truncates the double->decimal conversion
# instead of rounding it loses a cent on each — sums shift, the value
# hash goes red, and nothing reproduces locally.  Portable money math
# is exact-integer cents — CAST(floor(x * 100 + 0.5) AS BIGINT) — or
# round(sum(x), 2) AFTER aggregating; see the b1 postmortem in
# vunnel_spark/queries/layout_q.py's module docstring.
# DECIMAL(38,0) over integer inputs (x6/c1 hash arithmetic) is exact on
# every engine and deliberately NOT matched (scale-0 group below).
_DECIMAL_CAST_OF_COLUMN = re.compile(
    r"CAST\s*\(\s*[A-Za-z_][\w.]*\s+AS\s+DECIMAL\s*\(\s*\d+\s*,\s*[1-9]",
    re.IGNORECASE,
)


def test_no_decimal_cast_of_raw_double():
    offenders = {
        name: _DECIMAL_CAST_OF_COLUMN.search(spec.oracle).group(0)
        for name, spec in REGISTRY.items()
        if spec.oracle and _DECIMAL_CAST_OF_COLUMN.search(spec.oracle)
    }
    assert not offenders, (
        "oracle casts a bare column to a scaled DECIMAL — the b1 round-6 "
        "gate-red class (truncating vs rounding double->decimal conversion "
        "differs across DuckDB versions).  Use exact-integer cents "
        "CAST(floor(x*100+0.5) AS BIGINT) on BOTH sides (non-negative "
        "amounts only — sign-aware floor(abs(x)*100+0.5)*sign(x) for "
        "signed money), or round(sum(x), n) after aggregation.  "
        f"Offenders: {offenders}"
    )


# Waivers for deliberate full-codepoint ascii()/unicode() use, keyed by
# query name.  A waiver asserts the oracle call is NOT the x4 round-4
# hazard (Spark ascii() <-> DuckDB unicode() divergence on non-ASCII when
# the Spark side assumed single-byte input) because the Spark side itself
# computes the full codepoint.  The value documents why, for the reviewer.
_CODEPOINT_WAIVERS = {
    "x5_language_id": (
        "the oracle's unicode() mirrors the Python UDF's ord() in the "
        "CJK codepoint-range rule (19968-40959, queries/text.py); both "
        "sides are deliberately full-codepoint, so there is no "
        "single-byte assumption to violate"
    ),
    "llm1_pretrain_corpus_dag": (
        "embeds x5's detector SQL verbatim (queries/llm_q.py) — same "
        "deliberate full-codepoint CJK rule as the x5 waiver above"
    ),
}


def test_no_ascii_unicode_codepoint_mismatch():
    """Spark ``ascii()`` and older DuckDB ``ascii()`` disagree on
    non-ASCII input (DuckDB's historical behavior matched ``unicode()``);
    the portable spelling pair is Spark ascii <-> DuckDB unicode ONLY for
    guaranteed-single-byte input.  Any oracle line calling
    ascii()/unicode() must carry a same-line ``-- single-byte``
    justification naming that guarantee, or the query must hold an entry
    in ``_CODEPOINT_WAIVERS`` explaining why full-codepoint behavior is
    intended on BOTH engines.  Same-line + structured-waiver (rather than
    a substring match over the whole oracle) so a marker in one branch
    cannot silently waive a later unrelated call."""
    pat = re.compile(r"\b(ascii|unicode)\s*\(", re.IGNORECASE)
    offenders = {}
    for name, spec in REGISTRY.items():
        if not spec.oracle or name in _CODEPOINT_WAIVERS:
            continue
        for line in spec.oracle.splitlines():
            if pat.search(line) and "single-byte" not in line:
                offenders[name] = line.strip()
                break
    assert not offenders, (
        "oracle line uses ascii()/unicode() without a same-line "
        "'-- single-byte' justification or a _CODEPOINT_WAIVERS entry "
        f"(the x4 round-4 incident class): {offenders}"
    )


def test_codepoint_waivers_are_live():
    """A waiver for a query that no longer exists or no longer calls
    ascii()/unicode() is stale — fail so it gets removed."""
    pat = re.compile(r"\b(ascii|unicode)\s*\(", re.IGNORECASE)
    for name in _CODEPOINT_WAIVERS:
        spec = REGISTRY.get(name)
        assert spec is not None and spec.oracle and pat.search(spec.oracle), (
            f"stale codepoint waiver: {name}"
        )


# ----------------------------------------------------------- reachability

_REPO = Path(__file__).resolve().parents[1]
_IDENTIFIER = re.compile(r"[A-Za-z_]\w*\Z")

_ORACLE = (
    "independent comparator: the property-test oracle for a live sort key "
    "(tests/test_versions.py)"
)
_CVSS = (
    "scalar CVSS form that test_layered_cvss_eval_equals_column_form "
    "checks the layered one-evaluation columns against"
)
_FETCH = (
    "fetch tier: the paper's Extract stage (SURVEY S7-S11) and a fuzz "
    "target for untrusted bytes (ROADMAP direction 5); whether it stays is "
    "a roadmap decision"
)
_CODEC = "codec pair kept for the multimodal fold (ROADMAP direction 6)"

#: product code that no execution path reaches, kept on purpose.  A key
#: is a top-level def's name or, dotted, a whole module.  Each entry is a
#: root of its own, so the helpers it calls need no entry.
ALLOWED = {
    "rpm_vercmp": _ORACLE,
    "rpm_evr_cmp": _ORACLE,
    "dpkg_vercmp": _ORACLE,
    "cvss3_scores": _CVSS,
    "cvss3_valid": _CVSS,
    "cvss4_valid": _CVSS,
    "_filter_products_composed": (
        "independent form of filter_products that its equivalence test "
        "compares against"
    ),
    "bloom_might_contain": "the only check on bloom_state's bits",
    "file_prune_stats": "with files_touched, the only check that z-order prunes files",
    "files_touched": "with file_prune_stats, the only check that z-order prunes files",
    "os_envelope_json": "the only JSON-schema check on a pipeline's envelope output",
    "validate_envelope_docs": "the only JSON-schema check on a pipeline's envelope output",
    "kmeans_fit": "the only check on lloyd_update",
    "bpe_train": "produces the frozen merges x23 applies",
    "secdb_pipeline": "the secdb provider's entry point (no registered query reaches it)",
    "rocky_normalize_ecosystem": "the rocky provider's ecosystem rule (OSV entry point)",
    "decode_jpeg_gray": _CODEC,
    "encode_jpeg_rgb_progressive": _CODEC,
    "vunnel_spark.sources.git": _FETCH,
    "vunnel_spark.sources.http": _FETCH,
    "vunnel_spark.sources.oci": _FETCH,
    "vunnel_spark.sources.cursor": _FETCH,
    "vunnel_spark.sources.archive": _FETCH,
    "vunnel_spark.sources.readers": _FETCH,
    "read_oval_xml": _FETCH,
}


def _docstrings(tree: ast.AST) -> set[int]:
    return {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef))
        and node.body and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
        and isinstance(node.body[0].value.value, str)
    }


def _refs(nodes, docstrings: set[int]) -> set[str]:
    """Names ``nodes`` refer to: Name ids, Attribute attrs, and string
    constants that look like identifiers (getattr, registry keys)."""
    out = set()
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                out.add(sub.id)
            elif isinstance(sub, ast.Attribute):
                out.add(sub.attr)
            elif (isinstance(sub, ast.Constant) and isinstance(sub.value, str)
                  and id(sub) not in docstrings and _IDENTIFIER.match(sub.value)):
                out.add(sub.value)
    return out


def _is_register(decorator: ast.expr) -> bool:
    f = decorator.func if isinstance(decorator, ast.Call) else decorator
    return getattr(f, "id", getattr(f, "attr", None)) == "register"


def _scan():
    """Top-level defs of vunnel_spark/ as ``{(module, name): (refs,
    lines)}``, plus the names the execution roots refer to: registered
    queries, module-level code (imports aside, so re-exports do not
    count), the CLI, bench.py, __spark_entry__.py, scripts/ and
    perfbench/ (its tests aside)."""
    defs, roots = {}, set()
    for path in sorted((_REPO / "vunnel_spark").rglob("*.py")):
        module = ".".join(path.relative_to(_REPO).with_suffix("").parts)
        tree = ast.parse(path.read_text())
        docs = _docstrings(tree)
        module_code = []
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            if not isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                module_code.append(stmt)
                continue
            refs = _refs([stmt], docs)
            first = min([stmt.lineno] + [d.lineno for d in stmt.decorator_list])
            defs[(module, stmt.name)] = (refs, stmt.end_lineno - first + 1)
            module_code.extend(stmt.decorator_list)
            if module == "vunnel_spark.cli" or any(map(_is_register, stmt.decorator_list)):
                roots |= refs | {stmt.name}
        roots |= _refs(module_code, docs)
    for path in [_REPO / "bench.py", _REPO / "__spark_entry__.py",
                 *(_REPO / "scripts").rglob("*.py"),
                 *(_REPO / "perfbench").rglob("*.py")]:
        if "tests" not in path.relative_to(_REPO).parts:
            tree = ast.parse(path.read_text())
            roots |= _refs([tree], _docstrings(tree))
    return defs, roots


def _reached(defs, roots: set[str]) -> set[tuple[str, str]]:
    """Defs reached from ``roots`` by name, transitively.  Matching on
    the bare name over-approximates (any ``x.read`` reaches every
    ``read``), so the lint can miss dead code but never flags live code."""
    by_name: dict[str, list] = {}
    for key in defs:
        by_name.setdefault(key[1], []).append(key)
    seen, todo, reached = set(), list(roots), set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for key in by_name.get(name, ()):
            reached.add(key)
            todo.extend(defs[key][0] - seen)
    return reached


def test_product_code_is_reached_or_allowed():
    """Every top-level def in vunnel_spark/ is reached from an execution
    root, or is kept by an ``ALLOWED`` entry that says why.  Code only
    tests call is a second surface to keep green with no user: delete it
    with its tests, or record the reason it stays.  Entries must name
    live code that the roots do not already reach, so the list cannot
    outlive what it excuses.  Pure AST walk, no Spark."""
    defs, roots = _scan()
    modules = {module for module, _ in defs}
    allowed_roots = {k for k in ALLOWED if "." not in k} | {
        name for module, name in defs if module in ALLOWED
    }
    reached = _reached(defs, roots | allowed_roots)
    unreached = sorted(
        f"{module}.{name} ({defs[module, name][1]} lines)"
        for module, name in defs if (module, name) not in reached
    )
    assert not unreached, (
        "product code that no registered query, CLI command, script or "
        "benchmark workload reaches — delete it and the tests that only "
        "check it, or add it to ALLOWED with the reason it stays: "
        f"{unreached}"
    )
    live_names = {name for _, name in defs}
    missing = sorted(k for k in ALLOWED if k not in live_names | modules)
    assert not missing, f"ALLOWED names code that no longer exists: {missing}"
    by_roots = {name for _, name in _reached(defs, roots)}
    stale = sorted(k for k in ALLOWED if k in by_roots)
    assert not stale, f"ALLOWED entries the execution roots reach anyway: {stale}"
