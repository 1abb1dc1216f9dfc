"""The seeded input generator: deterministic, count- and key-preserving."""

import numpy as np
import pytest

from perfbench import gen


@pytest.fixture(scope="module")
def corpus():
    return gen.read_corpus()


def _keys(tables, table, col):
    return np.sort(tables[table][col].to_numpy())


def test_same_seed_same_inputs(corpus):
    a, b = gen.permute(corpus, 7), gen.permute(corpus, 7)
    assert all(a[t].equals(b[t]) for t in gen.TABLES)


def test_other_seed_other_inputs(corpus):
    a, b = gen.permute(corpus, 7), gen.permute(corpus, 8)
    assert not a["orders"].equals(b["orders"])
    assert not np.array_equal(a["lineitem"]["l_orderkey"].to_numpy(),
                              b["lineitem"]["l_orderkey"].to_numpy())


def test_row_counts_schemas_key_sets_and_fan_out_preserved(corpus):
    out = gen.permute(corpus, 3)
    for t in gen.TABLES:
        assert out[t].num_rows == corpus[t].num_rows
        assert out[t].schema.equals(corpus[t].schema)
    for refs in gen.DOMAINS.values():
        (table, col) = refs[0]
        assert np.array_equal(np.unique(_keys(out, table, col)),
                              np.unique(_keys(corpus, table, col)))
        for table, col in refs:  # relabeled, so only the fan-out is kept
            assert np.array_equal(np.sort(np.unique(_keys(out, table, col), return_counts=True)[1]),
                                  np.sort(np.unique(_keys(corpus, table, col), return_counts=True)[1]))


def test_foreign_keys_follow_their_parent_rows(corpus):
    """A relabeled lineitem still joins the same order: the order's
    total price seen through l_orderkey is unchanged row for row."""
    out = gen.permute(corpus, 5)

    def price_by_line(tables):
        o = tables["orders"].to_pandas().set_index("o_orderkey")["o_totalprice"]
        li = tables["lineitem"].to_pandas()
        li["price"] = o.loc[li["l_orderkey"]].to_numpy()
        return li.sort_values(["l_extendedprice", "l_linenumber", "price"])[
            ["l_extendedprice", "l_linenumber", "price"]].to_numpy()

    assert np.array_equal(price_by_line(out), price_by_line(corpus))
    for refs in gen.DOMAINS.values():
        parent = set(out[refs[0][0]][refs[0][1]].to_pylist())
        for table, col in refs[1:]:
            assert set(out[table][col].to_pylist()) <= parent


def test_rows_are_shuffled(corpus):
    out = gen.permute(corpus, 11)
    assert not np.array_equal(out["part"]["p_name"].to_numpy(),
                              corpus["part"]["p_name"].to_numpy())


def test_write_inputs_is_written_once(tmp_path):
    dest = str(tmp_path / "seed-1")
    gen.write_inputs(1, dest)
    first = {p.name: p.stat().st_mtime_ns for p in (tmp_path / "seed-1").iterdir()}
    gen.write_inputs(1, dest)
    assert first == {p.name: p.stat().st_mtime_ns for p in (tmp_path / "seed-1").iterdir()}
    assert sorted(first) == sorted(["STAMP"] + [f"{t}.parquet" for t in gen.TABLES])


def test_write_inputs_rewrites_a_stale_directory(tmp_path):
    dest = tmp_path / "seed-1"
    gen.write_inputs(1, str(dest))
    (dest / "STAMP").write_text("made by an older generator")
    (dest / "oracle.json").write_text("{}")
    gen.write_inputs(1, str(dest))
    assert (dest / "STAMP").read_text() == gen.stamp()
    assert not (dest / "oracle.json").exists()
