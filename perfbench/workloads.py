"""The benchmark's workloads: named lists of registered queries."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    #: input tables the queries load; the denominator of
    #: ``store_bytes_per_input_byte``
    tables: tuple[str, ...]


def _headline() -> tuple[str, ...]:
    import bench

    return tuple(bench.HEADLINE)


def workloads() -> dict[str, Workload]:
    return {
        # vunnel's provider normalize jobs: wide rows into keyed windows
        # and collect_list group-bys (exchanges, codegen'd expressions),
        # and debian1's legacy merge, whose eager jobs run while the plan
        # is built
        "provider_dags": Workload(
            ("ghsa1_per_ecosystem_dag", "rhel1_parse_cve_dag", "osv1_fixdate_patch",
             "secureos1_secdb_range_dag", "debian1_legacy_merge_dag"),
            ("orders", "lineitem", "part", "nation"),
        ),
        # the load side: input-store upsert and delta re-emit, first-observed
        # merges, the envelope sink, atomic publish and the kv cache
        "store_updates": Workload(
            ("nvd1_full_corpus_reemit", "i4_first_observed_merge",
             "s12_sink_roundtrip", "s15_kv_cache_changed_keys",
             "s17_snapshot_import_skip_compute"),
            ("orders", "lineitem", "documents"),
        ),
        # bench.py's headline set under this benchmark's consuming action
        "analytics_headline": Workload(
            _headline(),
            ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
             "events", "documents", "embeddings"),
        ),
        # the untrusted-byte parsers: PNG, JPEG, FLAC and HTML in mapInPandas
        "parse_kernels": Workload(
            ("m7_png_feature_extract", "m9_jpeg_feature_extract",
             "m17_flac_audio_features", "alas1_end_to_end_dag"),
            ("documents", "part"),
        ),
    }
