"""CLI + registry tag-algebra tests (SURVEY U7): include/exclude selection
matching the reference's provider tag filters
(src/vunnel/providers/__init__.py:150-183)."""

from __future__ import annotations

import pytest

from vunnel_spark.cli import main
from vunnel_spark.registry import REGISTRY, _ensure_loaded, select_by_tags

_ensure_loaded()


def test_select_all_when_no_criteria():
    assert select_by_tags(None) == sorted(REGISTRY)
    assert select_by_tags([]) == sorted(REGISTRY)


def test_select_requires_all_include_tags():
    both = select_by_tags(["dedup", "graph"])
    assert both
    for n in both:
        assert {"dedup", "graph"} <= set(REGISTRY[n].tags)
    # superset query: single tag selects at least as many
    assert set(both) <= set(select_by_tags(["dedup"]))


def test_select_excludes_negated_tags():
    sel = select_by_tags(["dedup", "!graph"])
    assert sel
    for n in sel:
        tags = set(REGISTRY[n].tags)
        assert "dedup" in tags and "graph" not in tags
    # include ∪ exclude partitions the include-only set
    assert set(select_by_tags(["dedup"])) == set(sel) | set(
        select_by_tags(["dedup", "graph"])
    )


def test_select_rejects_bare_bang_and_empty():
    with pytest.raises(ValueError):
        select_by_tags(["!"])
    with pytest.raises(ValueError):
        select_by_tags([""])


def test_cli_list_with_tag_algebra(capsys):
    assert main(["list", "--tags", "dedup", "!graph"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    names = {line.split()[0] for line in out}
    assert names == set(select_by_tags(["dedup", "!graph"]))


def test_cli_list_bad_tag_is_error(capsys):
    assert main(["list", "--tags", "!"]) == 2


def test_cli_run_requires_name_or_tags(capsys):
    assert main(["run"]) == 2
    assert main(["run", "x1_token_count_stats", "--tags", "text"]) == 2


def test_cli_clear_removes_known_members_only(tmp_path, capsys):
    import os

    from vunnel_spark.cli import main

    ws = tmp_path / "ws"
    for member in ("input", "results", "checkpoints"):
        (ws / member).mkdir(parents=True)
        (ws / member / "f").write_text("x")
    (ws / "results.__old__").mkdir()          # stale backup from a crash
    (ws / "unrelated").mkdir()                # must survive
    (ws / "_state.json").write_text("{}")

    # dry-run touches nothing
    assert main(["clear", str(ws), "--dry-run"]) == 0
    assert (ws / "results").exists() and (ws / "input").exists()

    assert main(["clear", str(ws), "--results-only"]) == 0
    assert not (ws / "results").exists()
    assert not (ws / "results.__old__").exists()
    assert not (ws / "_state.json").exists()
    assert (ws / "input").exists() and (ws / "unrelated").exists()

    assert main(["clear", str(ws)]) == 0
    assert not (ws / "input").exists()
    assert (ws / "unrelated").exists()

    assert main(["clear", str(ws / "missing")]) == 2
    assert main(["clear", str(ws), "--input-only", "--results-only"]) == 2


# ------------------------------------------------------- config file + env

def test_config_defaults_when_no_file(tmp_path):
    from vunnel_spark.config import load

    cfg = load(str(tmp_path / "absent.yaml"))
    assert cfg.sf_dir == "/root/testdata/sf0.001"
    assert cfg.show == 10 and cfg.explain is False
    assert cfg.spark.app_name == "vunnel_spark_cli"


def test_config_file_then_env_precedence(tmp_path, monkeypatch):
    from vunnel_spark.config import load

    p = tmp_path / "cfg.yaml"
    p.write_text(
        "sf_dir: /data/sfX\nshow: 25\nspark:\n  shuffle_partitions: 64\n"
    )
    cfg = load(str(p))
    assert (cfg.sf_dir, cfg.show, cfg.spark.shuffle_partitions) == (
        "/data/sfX", 25, 64)

    # env overrides the file, including nested fields and bool coercion
    monkeypatch.setenv("VUNNEL_SPARK_SF_DIR", "/data/env")
    monkeypatch.setenv("VUNNEL_SPARK_EXPLAIN", "yes")
    monkeypatch.setenv("VUNNEL_SPARK_SPARK_SHUFFLE_PARTITIONS", "128")
    cfg = load(str(p))
    assert cfg.sf_dir == "/data/env" and cfg.explain is True
    assert cfg.spark.shuffle_partitions == 128


def test_config_rejects_unknown_keys_and_bad_env(tmp_path, monkeypatch):
    import pytest

    from vunnel_spark.config import load

    p = tmp_path / "cfg.yaml"
    p.write_text("sfdir: oops\n")
    with pytest.raises(ValueError, match="unknown config key: sfdir"):
        load(str(p))

    p.write_text("show: notanint\n")
    with pytest.raises(ValueError, match="show must be an integer"):
        load(str(p))

    p.write_text("show: 5\n")
    monkeypatch.setenv("VUNNEL_SPARK_SHOW", "many")
    with pytest.raises(ValueError, match="VUNNEL_SPARK_SHOW"):
        load(str(p))


def test_cli_run_uses_config_file_sf_dir_and_flag_wins(tmp_path, monkeypatch, capsys):
    """End-to-end through main(): the config file supplies sf_dir, an
    explicit flag beats it."""
    from vunnel_spark.cli import main

    p = tmp_path / "cfg.yaml"
    p.write_text("sf_dir: /root/testdata/sf0.001\nshow: 3\n")
    rc = main(["-c", str(p), "run", "p1_regex_filter"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "@ /root/testdata/sf0.001" in out

    monkeypatch.setenv("VUNNEL_SPARK_SF_DIR", "/nonexistent/sfZ")
    rc = main(["-c", str(p), "run", "p1_regex_filter",
               "--sf-dir", "/root/testdata/sf0.001"])
    assert rc == 0  # explicit flag wins over the (broken) env value


def test_cli_malformed_yaml_clean_error(tmp_path, capsys):
    from vunnel_spark.cli import main

    p = tmp_path / "bad.yaml"
    p.write_text("sf_dir: [unclosed\n")
    rc = main(["-c", str(p), "list"])
    assert rc == 2
    assert "config error" in capsys.readouterr().err


def test_cli_compact_reports_rewrites(tmp_path, capsys, spark):
    import json as jsonlib

    store = str(tmp_path / "store")
    for i in range(2):
        (
            spark.range(i * 50, (i + 1) * 50)
            .selectExpr("'a' AS p", "id AS v")
            .repartition(4)
            .write.mode("append").partitionBy("p").parquet(store)
        )
    assert main(["compact", store, "--min-files", "2"]) == 0
    out = jsonlib.loads(capsys.readouterr().out)
    assert out["rewritten"]["p=a"]["files_before"] == 8
    assert out["rewritten"]["p=a"]["files_after"] < 8
    assert {r.v for r in spark.read.parquet(store).collect()} == set(range(100))
    assert main(["compact", str(tmp_path / "missing")]) == 2


def test_cli_status_counts_match_duckdb(spark, sf_dir, ddb, capsys):
    import json as jsonlib

    assert main(["status", "--sf-dir", sf_dir]) == 0
    out = jsonlib.loads(capsys.readouterr().out)
    views = [r[0] for r in ddb.execute(
        "SELECT view_name FROM duckdb_views() WHERE NOT internal").fetchall()]
    want = {t: ddb.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in views}
    assert out["tables"] == want
    assert out["queries"] == len(REGISTRY)
