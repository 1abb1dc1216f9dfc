"""Golden tests for the OVAL criteria-tree flattener (E3/E4/F4) —
including the reference's nesting/inheritance quirks."""

from __future__ import annotations

import json

from vunnel_spark.operators.oval import flatten_criteria, flatten_criteria_json

TREE = {
    "operator": "AND",
    "criterions": [{"test_ref": "ns:rhel8"}],
    "children": [
        {
            "operator": "OR",
            "criterions": [
                {"test_ref": "pkg:openssl"},
                {"test_ref": "pkg:zlib", "negate": True},
            ],
            "children": [
                {
                    "operator": "AND",
                    "criterions": [
                        {"test_ref": "ns:rhel8-aus"},
                        {"test_ref": "pkg:kernel"},
                    ],
                }
            ],
        }
    ],
}


def test_flatten_pairs_with_nearest_namespace():
    rows = flatten_criteria_json("d1", json.dumps(TREE))
    assert ("d1", "ns:rhel8", "pkg:openssl", "affirm") in rows
    assert ("d1", "ns:rhel8", "pkg:zlib", "negate") in rows
    # nested group overrides the namespace test for its own criterions
    assert ("d1", "ns:rhel8-aus", "pkg:kernel", "affirm") in rows
    assert len(rows) == 3


def test_flatten_empty_and_broken():
    assert flatten_criteria_json("d", "") == []
    assert flatten_criteria_json("d", "null") == []
    assert flatten_criteria_json("d", "{not json") == [("d", None, None, "parse_error")]


def test_flatten_criteria_spark(spark):
    df = spark.createDataFrame(
        [("d1", json.dumps(TREE)), ("d2", json.dumps({"criterions": [{"test_ref": "pkg:lone"}]}))],
        "doc_id string, criteria string",
    )
    rows = {tuple(r) for r in flatten_criteria(df).collect()}
    assert ("d1", "ns:rhel8", "pkg:openssl", "affirm") in rows
    # package test with no enclosing namespace test -> null ns (caller decides)
    assert ("d2", None, "pkg:lone", "affirm") in rows
    assert len(rows) == 4


def test_oval_pipeline_semantics(spark):
    """pipelines/oval.py: A13 canonical pick, 3-hop resolution, P6
    ksplice drop, empty-fix definitions survive with fixed_in ''."""
    from vunnel_spark.pipelines.oval import oval_pipeline

    defs = spark.createDataFrame(
        [
            ("d1", "ELSA-1", 1, "Low"),       # superseded by d2 (higher version)
            ("d2", "ELSA-1", 2, "Important"),
            ("d3", "ELSA-2", 1, "Moderate"),  # no pairs -> empty fixed_in
        ],
        "def_id string, name string, version int, severity string",
    )
    pairs = spark.createDataFrame(
        [
            ("d1", "tns", "t-old"),   # dropped: d1 not canonical
            ("d2", "tns", "t-ssl"),
            ("d2", "tns", "t-ssl"),   # duplicate pair -> one fix entry
            ("d2", "tns", "t-ksp"),   # resolves to a ksplice release -> dropped
            ("d2", "tns", "t-zlib"),
        ],
        "def_id string, ns_test string, pkg_test string",
    )
    tests = spark.createDataFrame(
        [("t-old", "o1", "s1"), ("t-ssl", "o1", "s1"),
         ("t-ksp", "o2", "s2"), ("t-zlib", "o3", "s3")],
        "test_id string, object_ref string, state_ref string",
    )
    objects = spark.createDataFrame(
        [("o1", "openssl"), ("o2", "kernel"), ("o3", "zlib")],
        "object_ref string, pkg string",
    )
    states = spark.createDataFrame(
        [("s1", "0:3.0.1-1", "el8"), ("s2", "0:5.4.17-2", "2.ksplice1.el8"),
         ("s3", "0:1.2.12-1", "el8")],
        "state_ref string, evr string, release string",
    )
    out = {r.def_id: r for r in
           oval_pipeline(defs, pairs, tests, objects, states).collect()}
    assert set(out) == {"d2", "d3"}
    assert out["d2"].severity == "Important"
    assert out["d2"].def_version == 2
    assert out["d2"].fixed_in == "openssl:0:3.0.1-1|zlib:0:1.2.12-1"
    assert out["d3"].fixed_in == ""


def test_sles_pipeline_not_affected(spark):
    """sles_pipeline: not-affected tests emit Version '0' entries, gated
    on the state's evr being '0', with SLES_SEVERITY_MAP normalization.  The
    reference's dedup-against-affected NEVER fires ((Name, None) vs
    (Name, ''), sles/parser.py:381-409), so a package both fixed and
    not-affected emits BOTH entries."""
    from vunnel_spark.pipelines.oval import sles_pipeline

    defs = spark.createDataFrame(
        [("d1", "SUSE-SU-1", 1, "important"), ("d2", "SUSE-SU-2", 1, "weird")],
        "def_id string, name string, version int, severity string",
    )
    pairs = spark.createDataFrame(
        [
            ("d1", None, "t-ssl", "affirm"),
            ("d1", None, "t-na-zlib", "not_affected"),   # emits zlib:0
            ("d1", None, "t-na-ssl", "not_affected"),    # emits openssl:0 TOO
                                                         # (the reference's
                                                         # affected-dedup is a
                                                         # no-op)
            ("d2", None, "t-na-bad", "not_affected"),    # state evr != '0' -> skipped
        ],
        "def_id string, ns_test string, pkg_test string, polarity string",
    )
    tests = spark.createDataFrame(
        [("t-ssl", "o-ssl", "s-fix"), ("t-na-zlib", "o-zlib", "s-zero"),
         ("t-na-ssl", "o-ssl", "s-zero"), ("t-na-bad", "o-zlib", "s-fix")],
        "test_id string, object_ref string, state_ref string",
    )
    objects = spark.createDataFrame(
        [("o-ssl", "openssl"), ("o-zlib", "zlib")], "object_ref string, pkg string"
    )
    states = spark.createDataFrame(
        [("s-fix", "0:3.0.1-1", None), ("s-zero", "0", None)],
        "state_ref string, evr string, release string",
    )
    out = {r.def_id: r for r in sles_pipeline(defs, pairs, tests, objects, states).collect()}
    assert out["d1"].fixed_in == "openssl:0|openssl:0:3.0.1-1|zlib:0"
    assert out["d1"].severity == "High"
    assert out["d2"].fixed_in == ""          # defensive skip of non-zero evr
    assert out["d2"].severity == "Unknown"   # unmapped feed severity


# ---- E4: context-inheriting walk (module/arch), reference
# providers/oracle/oval_parser.py:209-277 semantics ----

E4_TREE = {
    "operator": "OR",  # outermost OR: one group per platform
    "children": [
        {
            "operator": "AND",
            "criterions": [{"comment": "Oracle Linux 8 is installed"},
                           {"comment": "Module perl:5.26 is enabled"}],
            "children": [
                {   # child overrides the group-level module
                    "criterions": [
                        {"comment": "Module idm:DL1 is enabled"},
                        {"comment": "ipa is earlier than 4.9.8-7"},
                    ]
                },
                {   # sibling: inherits group module, sets its own arch;
                    # must NOT see idm:DL1 from the sibling branch
                    "criterions": [
                        {"comment": "Architecture is aarch64"},
                        {"comment": "kernel is earlier than 5.4.17-2136"},
                    ]
                },
            ],
        },
        {
            "operator": "AND",
            "criterions": [{"comment": "Oracle Linux 9 is installed"},
                           {"comment": "kernel is earlier than 5.14.0-70"}],
        },
        {   # group with packages but no namespace -> dropped, like reference
            "operator": "AND",
            "criterions": [{"comment": "orphan is earlier than 1.0"}],
        },
    ],
}


def test_collect_affected_context_inheritance():
    from vunnel_spark.operators.oval import collect_affected_json

    rows = set(collect_affected_json("d1", json.dumps(E4_TREE)))
    assert rows == {
        # module overridden by the child's own criterion, no arch
        ("d1", "Oracle Linux 8", "ipa", "4.9.8-7", "idm:DL1", None),
        # group module inherited; sibling's module does not leak; arch local
        ("d1", "Oracle Linux 8", "kernel", "5.4.17-2136", "perl:5.26", "aarch64"),
        # second platform group: own namespace, no module/arch context
        ("d1", "Oracle Linux 9", "kernel", "5.14.0-70", None, None),
    }


def test_collect_affected_order_insensitive_within_node():
    """Criterions are scanned before packages are attributed, so a module
    criterion listed AFTER the package test still applies (the reference
    collects all criterions of an element first)."""
    from vunnel_spark.operators.oval import collect_affected_json

    tree = {
        "operator": "AND",
        "criterions": [
            {"comment": "httpd is earlier than 2.4.37-47"},
            {"comment": "Module httpd:2.4 is enabled"},
            {"comment": "Oracle Linux 8 is installed"},
        ],
    }
    rows = collect_affected_json("d", json.dumps(tree))
    assert rows == [("d", "Oracle Linux 8", "httpd", "2.4.37-47", "httpd:2.4", None)]


def test_criteria_xml_to_tree_module_rows():
    """E4 walk golden path: a module-stream ELSA-shaped criteria tree
    yields context-attributed rows."""
    from vunnel_spark.operators.oval import collect_affected_json

    tree = {
        "operator": "AND",
        "criterions": [{"comment": "Oracle Linux 8 is installed", "test_ref": "t1"}],
        "children": [
            {
                "operator": "AND",
                "criterions": [
                    {"comment": "Module container-tools:ol8 is enabled", "test_ref": "t2"}
                ],
                "children": [
                    {
                        "operator": "OR",
                        "criterions": [
                            {"comment": "podman is earlier than 4.0.2-6", "test_ref": "t3"},
                            {"comment": "buildah is earlier than 1.24.2-4", "test_ref": "t4"},
                        ],
                        "children": [],
                    }
                ],
            }
        ],
    }
    rows = set(collect_affected_json("elsa-1", json.dumps(tree)))
    assert rows == {
        ("elsa-1", "Oracle Linux 8", "podman", "4.0.2-6", "container-tools:ol8", None),
        ("elsa-1", "Oracle Linux 8", "buildah", "1.24.2-4", "container-tools:ol8", None),
    }
