"""Result-envelope JSON Schemas and distributed record assembly (SURVEY F9).

The reference validates every emitted envelope against its declared schema
URL at test time (reference tests/conftest.py:246-268; schema documents
under schema/vulnerability/).  This module re-expresses the two schemas the
engine's pipelines emit — the OS-vulnerability record
(schema/vulnerability/os/schema-1.0.2.json) and the OSV record
(schema/vulnerability/osv/schema-1.6.1.json, itself the published OSV 1.6
spec) — as in-repo jsonschema documents, so the repo is standalone and the
golden pipeline tests can validate envelopes without reaching outside it.

Record assembly is Spark-side (``to_json`` over a struct — runs in whole-
stage codegen on executors); only test-time validation collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCHEMA_URL_OS = (
    "https://raw.githubusercontent.com/anchore/vunnel/main/schema/"
    "vulnerability/os/schema-1.0.2.json"
)
SCHEMA_URL_OSV = (
    "https://raw.githubusercontent.com/anchore/vunnel/main/schema/"
    "vulnerability/osv/schema-1.6.1.json"
)

#: Envelope{schema, identifier, item} — reference result.py:33-37.
ENVELOPE_SCHEMA = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "type": "object",
    "properties": {
        "schema": {"type": "string", "format": "uri"},
        "identifier": {"type": "string"},
        "item": {"type": "object"},
    },
    "required": ["schema", "identifier", "item"],
}

#: OS-vulnerability record: same required-field contract as the published
#: anchore schema (os/schema-1.0.2.json) — Vulnerability with
#: Description/FixedIn/Link/Metadata/Name/NamespaceName/Severity required,
#: FixedIn entries requiring Name/NamespaceName/Version/VersionFormat.
OS_VULNERABILITY_SCHEMA = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "type": "object",
    "required": ["Vulnerability"],
    "properties": {
        "Vulnerability": {
            "type": "object",
            "required": [
                "Description", "FixedIn", "Link", "Metadata", "Name",
                "NamespaceName", "Severity",
            ],
            "properties": {
                "Name": {"type": "string"},
                "NamespaceName": {"type": "string"},
                "Description": {"type": "string"},
                "Link": {"type": "string"},
                "Severity": {
                    "enum": [
                        "Unknown", "Negligible", "Low", "Medium", "High",
                        "Critical",
                    ]
                },
                "Metadata": {"type": "object"},
                "CVSS": {
                    "type": "array",
                    "items": {
                        "type": "object",
                        "required": ["base_metrics", "status",
                                     "vector_string", "version"],
                        "properties": {
                            "version": {"type": "string"},
                            "vector_string": {"type": "string"},
                            "status": {"type": "string"},
                            "base_metrics": {
                                "type": "object",
                                "required": ["base_score", "base_severity",
                                             "exploitability_score",
                                             "impact_score"],
                            },
                        },
                    },
                },
                "FixedIn": {
                    "type": "array",
                    "items": {
                        "type": "object",
                        "required": ["Name", "NamespaceName", "Version",
                                     "VersionFormat"],
                        "properties": {
                            "Name": {"type": "string"},
                            "NamespaceName": {"type": "string"},
                            "Version": {"type": "string"},
                            "VersionFormat": {"type": "string"},
                            "Module": {"type": ["string", "null"]},
                            "VulnerableRange": {"type": ["string", "null"]},
                            "VendorAdvisory": {
                                "type": "object",
                                "required": ["NoAdvisory"],
                                "properties": {
                                    "NoAdvisory": {"type": "boolean"},
                                    "AdvisorySummary": {"type": "array"},
                                },
                            },
                        },
                    },
                },
            },
        }
    },
}

#: Structural core of the OSV 1.6 spec (osv/schema-1.6.1.json): id+modified
#: required; typed aliases/affected/references surfaces.
OSV_SCHEMA = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "type": "object",
    "required": ["id", "modified"],
    "properties": {
        "schema_version": {"type": "string"},
        "id": {"type": "string"},
        "modified": {"type": "string"},
        "published": {"type": "string"},
        "withdrawn": {"type": "string"},
        "aliases": {"type": "array", "items": {"type": "string"}},
        "summary": {"type": "string"},
        "details": {"type": "string"},
        "severity": {
            "type": "array",
            "items": {
                "type": "object",
                "required": ["type", "score"],
                "properties": {
                    "type": {"enum": ["CVSS_V2", "CVSS_V3", "CVSS_V4",
                                      "Ubuntu"]},
                    "score": {"type": "string"},
                },
            },
        },
        "affected": {
            "type": "array",
            "items": {
                "type": "object",
                "properties": {
                    "package": {
                        "type": "object",
                        "required": ["ecosystem", "name"],
                        "properties": {
                            "ecosystem": {"type": "string"},
                            "name": {"type": "string"},
                            "purl": {"type": "string"},
                        },
                    },
                    "ranges": {
                        "type": "array",
                        "items": {
                            "type": "object",
                            "required": ["type", "events"],
                            "properties": {
                                "type": {"enum": ["SEMVER", "ECOSYSTEM",
                                                  "GIT"]},
                                "events": {"type": "array", "minItems": 1},
                            },
                        },
                    },
                    "versions": {"type": "array", "items": {"type": "string"}},
                },
            },
        },
        "references": {
            "type": "array",
            "items": {
                "type": "object",
                "required": ["type", "url"],
            },
        },
    },
}


def os_envelope_json(df: DataFrame) -> DataFrame:
    """Assemble pipeline output rows into OS-vulnerability envelopes.

    Input: one row per (vulnerability, namespace) with a ``FixedIn`` array
    of structs carrying at least Name/Version (NoAdvisory/Module optional).
    Output: one ``doc`` string column of envelope JSON — built entirely in
    Catalyst (struct + to_json), so assembly scales with the cluster and
    the driver only sees documents a test chooses to collect.
    """
    fi_fields = {
        f.name for f in df.schema["FixedIn"].dataType.elementType.fields
    }
    def fixed_entry(f):
        entry = [
            f.getField("Name").alias("Name"),
            F.col("namespace").alias("NamespaceName"),
            f.getField("Version").alias("Version"),
            F.lit("rpm").alias("VersionFormat"),
        ]
        if "Module" in fi_fields:
            entry.append(f.getField("Module").alias("Module"))
        if "NoAdvisory" in fi_fields:
            entry.append(
                F.struct(
                    f.getField("NoAdvisory").alias("NoAdvisory")
                ).alias("VendorAdvisory")
            )
        return F.struct(*entry)

    desc = (
        F.coalesce(F.col("description"), F.lit(""))
        if "description" in df.columns
        else F.lit("")
    )
    vuln = F.struct(
        F.col("cve_id").alias("Name"),
        F.col("namespace").alias("NamespaceName"),
        desc.alias("Description"),
        F.concat(F.lit("https://access.redhat.com/security/cve/"), F.col("cve_id")).alias("Link"),
        F.col("severity").alias("Severity"),
        F.struct(F.col("cve_id").alias("RefId")).alias("Metadata"),
        F.transform(F.col("FixedIn"), fixed_entry).alias("FixedIn"),
    )
    return df.select(
        F.to_json(
            F.struct(
                F.lit(SCHEMA_URL_OS).alias("schema"),
                F.col("cve_id").alias("identifier"),
                F.struct(vuln.alias("Vulnerability")).alias("item"),
            )
        ).alias("doc")
    )


def validate_envelope_docs(docs, item_schema) -> int:
    """Validate envelope JSON strings: envelope shape + item payload.

    Returns the number validated; raises jsonschema.ValidationError with
    the offending document on the first failure.  Import is gated so the
    engine itself never requires jsonschema — only tests do.
    """
    import json

    import jsonschema

    n = 0
    for doc in docs:
        obj = json.loads(doc) if isinstance(doc, str) else doc
        jsonschema.validate(obj, ENVELOPE_SCHEMA)
        jsonschema.validate(obj["item"], item_schema)
        n += 1
    return n
