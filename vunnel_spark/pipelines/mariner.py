"""CBL-Mariner / Azure Linux OVAL pipeline (SURVEY §2 provider-family proof).

Reference flow (/root/reference/src/vunnel/providers/mariner/parser.py:
208-236 ``vulnerabilities``, 125-196 ``make_fixed_in``, 98-123
``get_tests/get_states/get_objects``, 83-93 ``name_and_version``):

    parse the OVAL document into four id-keyed element families
    (definitions, rpminfo_test, rpminfo_object, rpminfo_state)
    ->  drop definitions with no severity, 'Not Applicable' patchable
        values, or no reference id
    ->  walk each definition's criteria: criterion.test_ref -> test ->
        {object_ref -> object, state_ref -> state}; missing ids at ANY
        hop drop silently (the reference's per-element error tolerance)
    ->  package name = the FIRST resolved object's name (objects[0]);
        empty/missing name drops the definition
    ->  each resolved state with an evr value contributes one range
        entry ('< v' / '> v' / '<= v'); the LAST 'less than' state sets
        the fixed version; no entries -> definition drops
    ->  entries sort DESCENDING and join with ', ' (parser.py:155-162)
    ->  fix availability (advisory date + 'advisory' kind) only when a
        fixed version exists and the definition carries an advisory date
        (parser.py:164-185 — the fixdate candidate list)
    ->  one Vulnerability per surviving definition: rpm version format,
        namespace 'mariner:<version>' from the source filename

The reference loads the whole document into three python dicts and
chases refs imperatively; here each element family is a DataFrame and
the ref-chase is two broadcast equi-join chains (tests, then objects /
states independently — matching get_objects/get_states, which drop
missing ids independently of each other).  At 100 TB the element
dimensions stay broadcast-sized: they are bounded by the OVAL test
namespace, not the corpus; the only shuffles are the thin per-definition
aggregations (first-object pick, range fold), keyed on def_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: parser.py:26 — patchable values that drop the definition outright.
IGNORED_PATCHABLE_VALUES = ("Not Applicable",)

#: parser.py:22-24 — the three evr operations that produce range entries.
_OP_LT = "less than"
_OP_GT = "greater than"
_OP_LE = "less than or equal"


def resolve_criteria(definitions: DataFrame, tests: DataFrame) -> DataFrame:
    """(def_id, pos, object_ref, state_ref): each definition's criteria
    walked through the test dimension in criterion order (parser.py:
    98-105 get_tests — criterion refs naming no known test drop)."""
    crit = definitions.select(
        "def_id", F.posexplode("criteria").alias("pos", "test_ref")
    )
    return crit.join(F.broadcast(tests), crit["test_ref"] == tests["test_id"]).select(
        "def_id", "pos", "object_ref", "state_ref"
    )


def first_object_name(resolved: DataFrame, objects: DataFrame) -> DataFrame:
    """(def_id, name): the FIRST resolved object's name per definition
    (parser.py:133 ``objects[0].name``) — min-by-criterion-position over
    the tests whose object ref resolves (parser.py:116-123 drops the
    rest).  Definitions resolving no object drop here (inner join +
    group): parser.py:130 ``if not ... objects: return None``."""
    return (
        resolved.join(
            F.broadcast(objects), resolved["object_ref"] == objects["object_id"]
        )
        .groupBy("def_id")
        .agg(F.min(F.struct("pos", "name"))["name"].alias("name"))
    )


def range_entries(resolved: DataFrame, states: DataFrame) -> DataFrame:
    """(def_id, vulnerable_range, fixed_raw): the range fold
    (parser.py:139-162).  Each resolved state with an evr value maps to
    '< v' / '> v' / '<= v' (unknown operations contribute nothing); the
    LAST 'less than' by criterion order sets the fixed version; entries
    sort DESCENDING and join with ', '.  Definitions with no entries
    drop (parser.py:152-153)."""
    st = resolved.join(
        F.broadcast(states), resolved["state_ref"] == states["state_id"]
    ).filter(
        # 'if state.evr and state.evr.value' (parser.py:140) is a FALSY
        # test — an empty-string evr contributes no range entry and
        # never sets the fixed version, exactly like a missing one
        F.coalesce(F.col("evr_value"), F.lit("")) != ""
    )
    entry = (
        F.when(F.col("evr_operation") == _OP_LT, F.concat(F.lit("< "), "evr_value"))
        .when(F.col("evr_operation") == _OP_GT, F.concat(F.lit("> "), "evr_value"))
        .when(F.col("evr_operation") == _OP_LE, F.concat(F.lit("<= "), "evr_value"))
    )
    return (
        st.withColumn("entry", entry)
        .groupBy("def_id")
        .agg(
            F.concat_ws(
                ", ", F.sort_array(F.collect_list("entry"), asc=False)
            ).alias("vulnerable_range"),
            F.count("entry").alias("_n_entries"),
            F.max(
                F.when(
                    F.col("evr_operation") == _OP_LT,
                    F.struct("pos", "evr_value"),
                )
            )["evr_value"].alias("fixed_raw"),
        )
        .filter(F.col("_n_entries") > 0)
        .drop("_n_entries")
    )


def mariner_pipeline(
    definitions: DataFrame,
    tests: DataFrame,
    objects: DataFrame,
    states: DataFrame,
) -> DataFrame:
    """definitions(def_id, ref_id, ref_url, severity, patchable,
    description, advisory_date, criteria: array<string>) +
    tests(test_id, object_ref, state_ref) + objects(object_id, name) +
    states(state_id, evr_value, evr_operation) -> one vulnerability row
    per surviving definition (parser.py:208-236)."""
    ns = "mariner:2.0"
    live = definitions.filter(
        F.col("severity").isNotNull()
        & (
            F.col("patchable").isNull()
            | ~F.col("patchable").isin(*IGNORED_PATCHABLE_VALUES)
        )
        # parser.py:219-221 drops FALSY vulnerability ids — empty string
        # included, not just missing (ADVICE r10)
        & F.col("ref_id").isNotNull()
        & (F.col("ref_id") != "")
    )
    resolved = resolve_criteria(live, tests)
    named = first_object_name(resolved, objects)
    ranges = range_entries(resolved, states)
    fixed = F.col("fixed_raw").isNotNull()
    return (
        live.join(ranges, "def_id")
        .join(named, "def_id")
        # parser.py:133-135: a missing/empty first-object name drops
        .filter(F.col("name").isNotNull() & (F.col("name") != ""))
        .select(
            F.col("ref_id").alias("record_id"),
            "name",
            F.lit(ns).alias("namespace"),
            F.lit("rpm").alias("version_format"),
            F.coalesce("fixed_raw", F.lit("None")).alias("version"),
            "vulnerable_range",
            # severity passes through RAW (parser.py:231 — no tier
            # normalization in this provider, unlike arch)
            "severity",
            F.coalesce("description", F.lit("")).alias("description"),
            F.coalesce("ref_url", F.lit("")).alias("link"),
            F.when(fixed, F.col("advisory_date")).alias("available_date"),
            F.when(
                fixed & F.col("advisory_date").isNotNull(), F.lit("advisory")
            ).alias("available_kind"),
        )
    )
