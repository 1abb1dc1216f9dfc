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

The reachability and options lints at the end are source-level rather
than oracle-level: product code that only tests reach fails the first
unless ``ALLOWED`` records why it stays, and a defaulted parameter or
environment knob that the execution roots leave with one value in use
(its default, or one other value every call passes) fails the second
unless ``ALLOWED_OPTIONS`` does.

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
import textwrap
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
    "encode_jpeg_rgb_progressive": (
        "the only source of the progressive 4:4:4 colour streams that "
        "test_multimodal.py and test_multimodal_bytes.py read"
    ),
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
    for path in _root_files():
        tree = ast.parse(path.read_text())
        roots |= _refs([tree], _docstrings(tree))
    return defs, roots


def _root_files() -> list[Path]:
    """The entry points, scripts/ and perfbench/ (its tests aside)."""
    return [
        path for path in [_REPO / "bench.py", _REPO / "__spark_entry__.py",
                          *(_REPO / "scripts").rglob("*.py"),
                          *(_REPO / "perfbench").rglob("*.py")]
        if "tests" not in path.relative_to(_REPO).parts
    ]


def _allowed_roots(defs) -> set[str]:
    """The names ``ALLOWED`` keeps: its bare keys and every def of the
    modules it names."""
    return {k for k in ALLOWED if "." not in k} | {
        name for module, name in defs if module in ALLOWED
    }


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
    reached = _reached(defs, roots | _allowed_roots(defs))
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


# ---------------------------------------------------------------- options

def _trees(paths) -> list[tuple[Path, ast.Module]]:
    return [(p, ast.parse(p.read_text())) for p in paths]


def _is_staticmethod(fn: ast.AST) -> bool:
    return any(getattr(d, "id", None) == "staticmethod" for d in fn.decorator_list)


def _defaulted(fn, method: bool) -> list[tuple[str, int | None, ast.expr]]:
    """``fn``'s defaulted parameters as (name, positional index or None
    for keyword-only, default); a method's index does not count
    self/cls."""
    a = fn.args
    positional = a.posonlyargs + a.args
    skip = 1 if method and not _is_staticmethod(fn) else 0
    first = len(positional) - len(a.defaults)
    out = [(p.arg, i - skip, d) for i, (p, d) in
           enumerate(zip(positional[first:], a.defaults), first)]
    out += [(p.arg, None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _env_reads(tree: ast.AST):
    """``os.environ.get(NAME, default)`` / ``os.getenv(NAME, default)``."""
    for sub in ast.walk(tree):
        if (isinstance(sub, ast.Call) and len(sub.args) == 2
                and isinstance(sub.args[0], ast.Constant)
                and isinstance(sub.args[0].value, str)
                and (ast.unparse(sub.func) in ("os.environ.get", "os.getenv"))):
            yield sub.args[0].value


#: a value the lint cannot evaluate: a forwarded name, an expression,
#: ``*args``/``**kwargs``, or a default it cannot read
_UNKNOWN = object()
#: what a call passes for a parameter it leaves at its default
_DEFAULT = object()


def _value(node: ast.expr, constants: dict):
    """``node``'s value if it is a literal or a module constant of its
    file, else ``_UNKNOWN``."""
    if isinstance(node, ast.Name):
        return constants.get(node.id, _UNKNOWN)
    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError):
        return _UNKNOWN


def _constants(tree: ast.Module) -> dict:
    """The module constants of ``tree``: names bound once at module level,
    to a literal."""
    bound: dict[str, list] = {}
    for stmt in tree.body:
        if isinstance(stmt, ast.Assign):
            targets, value = stmt.targets, stmt.value
        elif isinstance(stmt, (ast.AnnAssign, ast.AugAssign)):
            targets, value = [stmt.target], getattr(stmt, "value", None)
        else:
            continue
        for target in targets:
            if isinstance(target, ast.Name):
                bound.setdefault(target.id, []).append(value)
    return {
        name: v for name, values in bound.items() if len(values) == 1
        and values[0] is not None and (v := _value(values[0], {})) is not _UNKNOWN
    }


_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef,
           ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)


def _bound(scope: ast.AST) -> set[str]:
    """The names bound anywhere inside ``scope``: parameters, assignment
    and loop targets, imports, nested defs.  Over-counting is safe: a
    shadowed name is read as ``_UNKNOWN``, which counts as set."""
    out = set()
    for sub in ast.walk(scope):
        if isinstance(sub, ast.arg):
            out.add(sub.arg)
        elif isinstance(sub, ast.Name) and not isinstance(sub.ctx, ast.Load):
            out.add(sub.id)
        elif isinstance(sub, ast.alias):
            out.add(sub.asname or sub.name.split(".")[0])
        elif isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.add(sub.name)
    return out


def _shadowed(node: ast.AST) -> dict[int, set[str]]:
    """For each call in ``node`` (by ``id``), the names its enclosing
    functions, classes and comprehensions bind, which hide a module
    constant of the same name."""
    out: dict[int, set[str]] = {}
    for scope in ast.walk(node):
        if isinstance(scope, _SCOPES):
            names = _bound(scope)
            for sub in ast.walk(scope):
                if isinstance(sub, ast.Call):
                    out.setdefault(id(sub), set()).update(names)
    return out


def _external(tree: ast.Module) -> set[str]:
    """The names ``tree`` imports from outside vunnel_spark (``gc``, ``np``,
    ``F``, ...), anywhere in the file."""
    out = set()
    for sub in ast.walk(tree):
        if isinstance(sub, ast.Import):
            out |= {a.asname or a.name.split(".")[0] for a in sub.names
                    if a.name.split(".")[0] != "vunnel_spark"}
        elif (isinstance(sub, ast.ImportFrom) and not sub.level
              and sub.module.split(".")[0] != "vunnel_spark"):
            out |= {a.asname or a.name for a in sub.names}
    return out


def _receiver(func: ast.expr) -> str | None:
    """The name a call's callee hangs off: ``x`` for ``x.f`` or ``x.y.f``,
    ``f`` for a bare ``f``, else None."""
    while isinstance(func, ast.Attribute):
        func = func.value
    return func.id if isinstance(func, ast.Name) else None


def _differs(value, default) -> bool:
    return (value is _UNKNOWN or default is _UNKNOWN
            or type(value) is not type(default) or value != default)


class _Calls:
    """What the calls in some code pass, by callee name: per call, the
    positional values, the keyword values, and whether ``*args`` /
    ``**kwargs`` forward everything.  A literal or a module constant of
    the calling file is a value, unless a function, class or
    comprehension around the call binds the same name; anything else is
    ``_UNKNOWN``.
    ``partial(f, ...)`` counts as a call of ``f``, and a call through
    ``from m import f as g`` as one of ``f``.  A call whose callee hangs
    off a name imported from outside vunnel_spark (``gc.collect(n)``,
    ``np.random.shuffle(x)``) calls no vunnel_spark def and is skipped."""

    def __init__(self):
        self.calls: dict[str, list[tuple[list, bool, dict, bool]]] = {}
        self.strings: set[str] = set()
        self.aliases: dict[str, set[str]] = {}

    def add(self, nodes, module: ast.Module) -> None:
        """Record the calls in ``nodes``, which sit in the file ``module``."""
        constants, external = _constants(module), _external(module)
        for node in nodes:
            shadowed = _shadowed(node)
            for sub in ast.walk(node):
                if isinstance(sub, ast.Constant) and isinstance(sub.value, str):
                    self.strings.add(sub.value)
                if isinstance(sub, ast.alias) and sub.asname:
                    self.aliases.setdefault(sub.name.rsplit(".", 1)[-1], set()).add(sub.asname)
                if not isinstance(sub, ast.Call):
                    continue
                func, args = sub.func, sub.args
                if getattr(func, "id", getattr(func, "attr", None)) == "partial" and args:
                    func, args = args[0], args[1:]
                name = getattr(func, "id", getattr(func, "attr", None))
                if name is None or _receiver(func) in external:
                    continue
                hidden = shadowed.get(id(sub), set())
                visible = {k: v for k, v in constants.items() if k not in hidden}
                self.calls.setdefault(name, []).append((
                    [_value(a, visible) for a in args if not isinstance(a, ast.Starred)],
                    any(isinstance(a, ast.Starred) for a in args),
                    {kw.arg: _value(kw.value, visible) for kw in sub.keywords if kw.arg},
                    any(kw.arg is None for kw in sub.keywords),
                ))

    def passed(self, callee: str, param: str, index: int | None):
        """Per call of ``callee``, what it passes ``param`` (at ``index``
        if positional): a value, ``_UNKNOWN``, or ``_DEFAULT`` when it
        leaves the parameter at its default."""
        for name in {callee} | self.aliases.get(callee, set()):
            for positional, star, keywords, starstar in self.calls.get(name, ()):
                if starstar or (index is not None and star):
                    yield _UNKNOWN
                elif param in keywords:
                    yield keywords[param]
                elif index is not None and index < len(positional):
                    yield positional[index]
                else:
                    yield _DEFAULT

    def sets(self, callee: str, param: str, index: int | None,
             default=_UNKNOWN) -> bool:
        """Whether the calls of ``callee`` set ``param`` (``_sets``)."""
        return _sets(list(self.passed(callee, param, index)), default)


def _sets(values: list, default) -> bool:
    """Whether calls passing ``values`` set an option whose default is
    ``default``: some call passes another value (rule one), and the calls
    do not all pass one and the same value (rule three: that is a knob
    with one value in use)."""
    if not any(v is not _DEFAULT and _differs(v, default) for v in values):
        return False
    return any(_differs(v, values[0]) for v in values)


def _options():
    """Every option of vunnel_spark/ as ``{key: (def key, callee names,
    param, index, default)}``: a defaulted parameter of a top-level
    function (``module.f.p``), method (``module.C.m.p``) or constructor
    (``module.C.__init__.p``, called as ``C`` or ``super().__init__``),
    with ``module`` relative to vunnel_spark and the default's value as
    ``_value`` reads it; or an environment variable read with a default
    (key and param are its name, callees None)."""
    out = {}
    for path, tree in _trees(sorted((_REPO / "vunnel_spark").rglob("*.py"))):
        module = ".".join(path.relative_to(_REPO).with_suffix("").parts)
        prefix = module.removeprefix("vunnel_spark.") + "."
        constants = _constants(tree)
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for p, i, d in _defaulted(stmt, method=False):
                    out[f"{prefix}{stmt.name}.{p}"] = (
                        (module, stmt.name), (stmt.name,), p, i, _value(d, constants))
            elif isinstance(stmt, ast.ClassDef):
                for fn in stmt.body:
                    if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        continue
                    callees = (stmt.name, "__init__") if fn.name == "__init__" else (fn.name,)
                    for p, i, d in _defaulted(fn, method=True):
                        out[f"{prefix}{stmt.name}.{fn.name}.{p}"] = (
                            (module, stmt.name), callees, p, i, _value(d, constants))
        for name in _env_reads(tree):
            out[name] = ((module, None), None, name, None, _UNKNOWN)
    return out


def _option_calls(defs, roots):
    """The calls that can set an option, as ``(root, test, files,
    only_allowed)``.  ``root`` holds the calls in the execution roots and
    in every def they or ``ALLOWED`` reach; ``test`` the calls in tests/,
    which count only for the options of ``only_allowed``, the defs that
    ``ALLOWED`` alone keeps.  ``files.strings`` holds the string
    constants of the entry points, scripts/ and perfbench/, where an
    environment variable is set."""
    root, test, files = _Calls(), _Calls(), _Calls()
    reached = _reached(defs, roots | _allowed_roots(defs))
    for path, tree in _trees(sorted((_REPO / "vunnel_spark").rglob("*.py"))):
        module = ".".join(path.relative_to(_REPO).with_suffix("").parts)
        nodes = []
        for stmt in tree.body:
            if (not isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                    or (module, stmt.name) in reached):
                nodes.append(stmt)
            else:
                nodes.extend(stmt.decorator_list)
        root.add(nodes, tree)
    for _, tree in _trees(_root_files()):
        root.add([tree], tree)
        files.add([tree], tree)
    for _, tree in _trees(sorted((_REPO / "tests").rglob("*.py"))):
        test.add([tree], tree)
    return root, test, files, reached - _reached(defs, roots)


def _unset_options() -> list[str]:
    """Options no root sets (for defs only ``ALLOWED`` keeps: no root and
    no test)."""
    defs, roots = _scan()
    root, test, files, only_allowed = _option_calls(defs, roots)
    unset = []
    for key, (owner, callees, param, index, default) in _options().items():
        if callees is None:
            is_set = param in files.strings
        else:
            calls = (root, test) if owner in only_allowed else (root,)
            is_set = _sets([v for c in calls for name in callees
                            for v in c.passed(name, param, index)], default)
        if not is_set:
            unset.append(key)
    return unset


_SEAM = "test seam: tests pass a temp dir, a fixed clock or argv here"
_REFERENCE = (
    "makes the reference streams the decoder must read (the only source "
    "of restart markers / LPC orders / strip layouts in the tests)"
)
_DEPLOY = "deployment setting a caller of the library chooses"

#: options (defaulted parameters and environment knobs) that no
#: execution root sets, kept on purpose.  A key is what ``_options``
#: reports: ``module.function.param``, ``module.Class.method.param`` or
#: an environment variable's name.
ALLOWED_OPTIONS = {
    "cli.main.argv": _SEAM,
    "session.get_spark.cpus": _SEAM,
    "queries.__init__.compute_gate_window.root": _SEAM,
    "pipelines.nvd.nvd_pipeline.state_path": _SEAM,
    "pipelines.nvd.nvd_pipeline.today": _SEAM,
    "pipelines.ubuntu.ubuntu_pipeline.state_path": _SEAM,
    "pipelines.ubuntu.ubuntu_pipeline.today_date": _SEAM,
    "operators.multimodal.encode_jpeg_gray.restart_interval": _REFERENCE,
    "operators.multimodal.encode_jpeg_gray_progressive.restart_interval": _REFERENCE,
    "operators.multimodal.encode_flac.lpc_order": _REFERENCE,
    "operators.multimodal.encode_flac.method": (
        f"{_REFERENCE}; every root encodes 'lpc', the tests decode the "
        "fixed-predictor streams of the default"
    ),
    "operators.multimodal.encode_tiff.rows_per_strip": _REFERENCE,
    "functions.zorder.write_clustered.n_files": f"{_DEPLOY}: output file count",
    "operators.dedup.write_lsh_index.mode": (
        f"{_DEPLOY}: 'append' grows the incremental index batch by batch"
    ),
    "pipelines.echo.echo_pipeline.namespace": f"{_DEPLOY}: published namespace",
    "pipelines.echo.echo_pipeline.release": f"{_DEPLOY}: published namespace",
    "pipelines.secureos.secureos_pipeline.namespace": f"{_DEPLOY}: published namespace",
    "pipelines.secureos.secureos_pipeline.release": f"{_DEPLOY}: published namespace",
    "pipelines.osv.osv_patch_fix_dates.ecosystem_processor": (
        f"{_DEPLOY}: the provider's ecosystem rule (rocky_normalize_ecosystem)"
    ),
    "pipelines.osv.osv_patch_fix_dates.validate_store_dim": (
        f"{_DEPLOY}: checks a fix-date store's key uniqueness at run time"
    ),
    "pipelines.ubuntu.osv_to_os.include_esm": (
        f"{_DEPLOY}: whether Ubuntu Pro (ESM) fixes are published"
    ),
    "sinks.writers.EnvelopeWriter.__init__.partition_by": f"{_DEPLOY}: store layout",
    "sinks.bucketed.write_bucketed.num_buckets": (
        f"{_DEPLOY}: bucket count, a layout contract (DEPLOY.md, bucketed fact tables)"
    ),
    "operators.joins.salted_join.n_salts": f"{_DEPLOY}: salt count (DEPLOY.md skew playbook)",
    "operators.dedup.shared_span_pairs.min_span_tokens": (
        f"{_SEAM}: the span tests check run detection on documents shorter "
        "than d10's 15-token threshold"
    ),
    "worker_daemon._FreezingGC.collect.generation": (
        "mirrors gc.collect's signature: it stands in for the gc module, "
        "whose callers may pass a generation"
    ),
    "streaming.joins.interval_join.watermark": f"{_DEPLOY}: lateness bound",
}


def test_options_are_set_or_allowed():
    """Every option of vunnel_spark/ is set by an execution root (for
    code only ``ALLOWED`` keeps: by a test), or is kept by an
    ``ALLOWED_OPTIONS`` entry that says why.  An option nothing sets, or
    that every caller sets to its default or to one same other value, is
    a branch nothing runs: inline the value in use, or record the reason
    it stays.

    Three rules decide what the calls set.  First, a call sets an option
    only when it passes a value other than the default: a literal, or a
    module constant of the calling file that no function, class or
    comprehension around the call rebinds, equal to the default sets
    nothing.  Second, a call ``x.f(...)`` whose ``x`` is imported from
    outside vunnel_spark (``gc.collect(n)``) calls no vunnel_spark def
    named ``f``.  Third, when every call passes the option one and the
    same such value, the option has one value in use and counts as
    unset: its default's branch runs in no root.  Other calls match by
    name, and a forwarded name, an expression or ``*args``/``**kwargs``
    counts as setting a value, so the lint can miss an unused option but
    never flags one a root passes.  Pure AST walk, no Spark."""
    unset = _unset_options()
    missing = sorted(k for k in unset if k not in ALLOWED_OPTIONS)
    assert not missing, (
        "options that no registered query, CLI command, script or "
        "benchmark workload sets, or that all of them set to one value — "
        "inline the value in use (one used more than once becomes a "
        "module constant; a column name the caller owns loses its "
        "default), or add the option to ALLOWED_OPTIONS with the reason "
        f"it stays: {missing}"
    )
    live = _options()
    gone = sorted(k for k in ALLOWED_OPTIONS if k not in live)
    assert not gone, f"ALLOWED_OPTIONS names options that no longer exist: {gone}"
    stale = sorted(k for k in ALLOWED_OPTIONS if k not in unset)
    assert not stale, f"ALLOWED_OPTIONS entries the execution roots set anyway: {stale}"


def _synthetic_calls(source: str) -> _Calls:
    tree = ast.parse(textwrap.dedent(source))
    calls = _Calls()
    calls.add([tree], tree)
    return calls


def test_options_lint_counts_default_values_as_unset():
    """Rule one on synthetic input: for ``f(x, n=16)``, a call passing 16
    as a literal or as a module constant of its file sets nothing; 8
    next to it sets ``n``, and so does a name bound twice (not a
    constant)."""
    literal = _synthetic_calls("""
        f(x, n=16)
        f(x, 16)
    """)
    assert not literal.sets("f", "n", 1, 16)
    constant = _synthetic_calls("""
        _N = 16
        f(x, n=_N)
        f(x, _N)
    """)
    assert not constant.sets("f", "n", 1, 16)
    assert _synthetic_calls("f(x, n=8)\nf(x, 16)").sets("f", "n", 1, 16)
    assert _synthetic_calls("""
        _N = 16
        _N = 8
        f(x, n=_N)
    """).sets("f", "n", 1, 16)


def test_options_lint_skips_calls_into_imported_modules():
    """Rule two on synthetic input: ``gc.collect(n)`` and
    ``np.random.shuffle(a, b)`` call no vunnel_spark def, so they set no
    option of a method named ``collect`` or ``shuffle``; the same call on
    an object the lint cannot resolve still does."""
    external = _synthetic_calls("""
        import gc
        import numpy as np

        def collect(generation):
            gc.collect(generation)
            np.random.shuffle(generation, 3)
    """)
    assert not external.sets("collect", "generation", 0, 2)
    assert not external.sets("shuffle", "n", 1, 1)
    assert _synthetic_calls("self.gc.collect(generation)").sets("collect", "generation", 0, 2)


def test_options_lint_counts_unknown_values_as_set():
    """What the lint cannot evaluate counts as set: a forwarded name (also
    one that hides a module constant equal to the default), an
    expression, ``**kwargs`` and (for a positional parameter) ``*args``."""
    assert _synthetic_calls("def g(n):\n    f(x, n=n)").sets("f", "n", 1, 16)
    assert _synthetic_calls("""
        _N = 16

        def g(_N):
            f(x, n=_N)
    """).sets("f", "n", 1, 16)
    assert _synthetic_calls("""
        _N = 16

        def g():
            _N = 8
            f(x, _N)
    """).sets("f", "n", 1, 16)
    assert _synthetic_calls("_N = 16\n[f(x, n=_N) for _N in (8,)]").sets("f", "n", 1, 16)
    assert _synthetic_calls("f(x, n=4 * 4)").sets("f", "n", 1, 16)
    assert _synthetic_calls("f(x, **kw)").sets("f", "n", 1, 16)
    assert _synthetic_calls("f(*args)").sets("f", "n", 1, 16)
    assert not _synthetic_calls("f(*args)").sets("f", "n", None, 16)


def test_options_lint_counts_one_fixed_value_as_unset():
    """Rule three on synthetic input: for ``f(x, n=4)``, calls that all
    pass 16, as a literal or as a module constant of their file, leave
    ``n`` with one value in use, so they set nothing."""
    assert not _synthetic_calls("""
        f(x, n=16)
        f(x, n=16)
    """).sets("f", "n", 1, 4)
    assert not _synthetic_calls("""
        _N = 16
        f(x, _N)
        f(x, n=16)
    """).sets("f", "n", 1, 4)


def test_options_lint_counts_varied_values_as_set():
    """Rule three flags only a value every call passes: ``f(x, n=16)``
    twice sets nothing of ``n`` (default 4), but with a third call that
    passes another value, relies on the default or forwards a name, the
    calls set it."""
    fixed = "f(x, n=16)\nf(x, n=16)\n"
    assert not _synthetic_calls(fixed).sets("f", "n", 1, 4)
    for third in ("f(x, n=8)", "f(x)", "def g(n):\n    f(x, n=n)"):
        assert _synthetic_calls(fixed + third).sets("f", "n", 1, 4), third
