"""Golden end-to-end test for the NVD pipeline (SURVEY §7.2 phase 8):
initial full sync, then an incremental delta run — asserting the §3.2
lifecycle semantics: the incremental run RE-EMITS the full corpus, the
delta replaces stored records last-wins, overrides patch every emitted
record (including ones absent from today's delta), override-only CVEs are
synthesized, and first-observed dates never move on re-runs.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from vunnel_spark.pipelines import nvd_pipeline


def _records(spark, rows):
    return spark.createDataFrame(
        rows,
        "cve_id string, severity string, description string, "
        "last_modified timestamp, refs array<string>",
    )


def test_incremental_run_reemits_full_corpus(spark, tmp_path):
    ts = datetime.datetime
    initial = _records(
        spark,
        [
            ("CVE-2024-0001", "HIGH", "first", ts(2024, 1, 1), ["a"]),
            ("CVE-2024-0002", "LOW", "second", ts(2024, 1, 2), ["b"]),
            ("CVE-2024-0003", "MEDIUM", "third", ts(2024, 1, 3), ["c"]),
        ],
    )
    overrides = spark.createDataFrame(
        [
            ("CVE-2024-0002", "CRITICAL", ["ovr"]),   # patches a stored CVE
            ("CVE-2024-9999", "HIGH", ["only-ovr"]),  # no NVD record: synthesized
        ],
        "cve_id string, severity string, extra_refs array<string>",
    )
    wd, state = str(tmp_path / "ws"), str(tmp_path / "fixdates")

    out1 = nvd_pipeline(
        spark, initial, wd, overrides=overrides, state_path=state, today="2026-08-13"
    )
    rows1 = {r.identifier: r.item for r in out1.collect()}
    assert set(rows1) == {
        "cve-2024-0001", "cve-2024-0002", "cve-2024-0003", "cve-2024-9999",
    }
    assert rows1["cve-2024-0002"].severity == "CRITICAL"
    assert list(rows1["cve-2024-0002"].refs) == ["b", "ovr"]
    assert rows1["cve-2024-9999"].description == "synthesized from override"

    # incremental delta: one changed CVE, one brand-new CVE
    delta = _records(
        spark,
        [
            ("CVE-2024-0001", "CRITICAL", "first-updated", ts(2025, 6, 1), ["a2"]),
            ("CVE-2024-0004", "LOW", "fourth", ts(2025, 6, 2), ["d"]),
        ],
    )
    out2 = nvd_pipeline(
        spark, delta, wd, overrides=overrides, state_path=state, today="2027-01-01"
    )
    rows2 = {r.identifier: r.item for r in out2.collect()}
    # FULL corpus re-emitted: untouched CVEs still present
    assert set(rows2) == {
        "cve-2024-0001", "cve-2024-0002", "cve-2024-0003",
        "cve-2024-0004", "cve-2024-9999",
    }
    # delta replaced the stored record wholesale (last-wins)
    assert rows2["cve-2024-0001"].description == "first-updated"
    assert list(rows2["cve-2024-0001"].refs) == ["a2"]
    # override still applied to a CVE absent from today's delta
    assert rows2["cve-2024-0002"].severity == "CRITICAL"
    # first-observed dates did not move on the second run
    assert str(rows2["cve-2024-0002"].first_observed) == "2026-08-13"
    # the new CVE got today's date
    assert str(rows2["cve-2024-0004"].first_observed) == "2027-01-01"


def test_stale_delta_does_not_roll_back(spark, tmp_path):
    """A delta carrying an OLDER last_modified than the store must lose the
    last-wins upsert (out-of-order page delivery at scale)."""
    ts = datetime.datetime
    wd = str(tmp_path / "ws")
    nvd_pipeline(
        spark,
        _records(spark, [("CVE-2024-0001", "HIGH", "new", ts(2025, 1, 1), ["n"])]),
        wd,
    )
    out = nvd_pipeline(
        spark,
        _records(spark, [("CVE-2024-0001", "LOW", "stale", ts(2024, 1, 1), ["s"])]),
        wd,
    )
    items = {r.identifier: r.item for r in out.collect()}
    assert items["cve-2024-0001"].description == "new"


def test_override_refs_append_in_order_with_duplicates(spark):
    """_apply_override's ref merge (nvd/manager.py:328-335): override
    refs APPEND in their own order when not already present; existing
    order is preserved, nothing sorts, and the presence set is built
    from the ORIGINAL refs only — so a url repeated inside the override
    list appends twice (the reference never updates existing_set)."""
    from pyspark.sql import functions as F

    from vunnel_spark.pipelines.nvd import apply_overrides

    records = spark.createDataFrame(
        [("CVE-1", "High", "d", None, ["z-ref", "base"])],
        "cve_id string, severity string, description string, "
        "last_modified timestamp, refs array<string>",
    )
    overrides = spark.createDataFrame(
        [("CVE-1", "OVR", ["a-ref", "base", "a-ref"])],
        "cve_id string, severity string, extra_refs array<string>",
    )
    out = apply_overrides(records, overrides).collect()[0]
    assert out.refs == ["z-ref", "base", "a-ref", "a-ref"]
    assert out.severity == "OVR"


def test_upsert_recovers_crashed_swap(spark, tmp_path):
    """A kill between the input store's two publish renames parks the
    stored corpus as a backup; the next upsert must restore it, or the
    store shrinks to today's delta."""
    import os

    from vunnel_spark.pipelines.nvd import upsert_input

    ts = datetime.datetime
    path = str(tmp_path / "input")
    upsert_input(spark, path, _records(spark, [
        ("CVE-2024-0001", "HIGH", "first", ts(2024, 1, 1), ["a"]),
        ("CVE-2024-0002", "LOW", "second", ts(2024, 1, 2), ["b"]),
    ]))
    os.rename(path, f"{path}.__old__")  # simulate the crash window

    corpus = upsert_input(spark, path, _records(spark, [
        ("CVE-2024-0002", "MEDIUM", "second-updated", ts(2025, 1, 2), ["b2"]),
    ]))
    got = {r.cve_id: r.description for r in corpus.collect()}
    assert got == {"CVE-2024-0001": "first", "CVE-2024-0002": "second-updated"}
    assert not os.path.exists(f"{path}.__old__")
