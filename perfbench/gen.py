"""Seeded benchmark inputs derived from the base corpus in ``corpus/``.

The base corpus is the TPC-H-shaped sf0.01 table set the correctness gate
uses.  A seed relabels every surrogate-key domain with a bijective
permutation of its *existing* values -- applied to the primary key and to
every foreign key that references it, so joins keep their partners -- and
shuffles the row order of every table.  Row counts, key sets and
referential integrity are unchanged; which rows a ``key % k`` predicate
selects, how rows land in partitions and which key wins a tie all move
with the seed.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus")
#: the TPC-H scale factor of the base corpus
SF = 0.01

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

#: key domain -> [(table, column), ...]; the first entry is the primary key
#: whose values define the domain, the rest are foreign keys into it.
#: ``events.user_id`` has no parent table, so it is a domain of its own.
DOMAINS = {
    "regionkey": [("region", "r_regionkey"), ("nation", "n_regionkey")],
    "nationkey": [("nation", "n_nationkey"), ("customer", "c_nationkey"),
                  ("supplier", "s_nationkey")],
    "custkey": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "suppkey": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "partkey": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "orderkey": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "event_id": [("events", "event_id")],
    "user_id": [("events", "user_id")],
    "doc_id": [("documents", "doc_id")],
    "vec_id": [("embeddings", "vec_id")],
}


def permute(tables: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Relabel every key domain and shuffle every table's rows."""
    rng = np.random.default_rng(seed)
    cols: dict[tuple[str, str], np.ndarray] = {}
    for refs in DOMAINS.values():
        values = np.unique(tables[refs[0][0]][refs[0][1]].to_numpy())
        image = values[rng.permutation(len(values))]
        for table, col in refs:
            old = tables[table][col].to_numpy()
            pos = np.searchsorted(values, old)
            if not np.array_equal(values[np.minimum(pos, len(values) - 1)], old):
                raise ValueError(f"{table}.{col} has values outside its key domain")
            cols[(table, col)] = image[pos]
    out = {}
    for name, tbl in tables.items():
        for (table, col), arr in cols.items():
            if table == name:
                i = tbl.schema.get_field_index(col)
                tbl = tbl.set_column(i, tbl.schema.field(i), pa.array(arr, tbl.schema.field(i).type))
        out[name] = tbl.take(rng.permutation(tbl.num_rows))
    return out


def read_corpus(src: str = CORPUS) -> dict[str, pa.Table]:
    return {name: pq.read_table(os.path.join(src, f"{name}.parquet")) for name in TABLES}


def stamp(src: str = CORPUS) -> str:
    """Digest of what a seed's inputs are made from: this module's source
    and the corpus files."""
    h = hashlib.sha256()
    with open(os.path.abspath(__file__), "rb") as f:
        h.update(f.read())
    for name in TABLES:
        with open(os.path.join(src, f"{name}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def write_inputs(seed: int, dest: str, src: str = CORPUS) -> str:
    """Write the seed's tables to ``dest`` (one parquet file each), once.

    Returns ``dest``.  An existing directory is reused only if its
    ``STAMP`` file matches :func:`stamp`; otherwise it is rewritten, with
    everything cached in it.  The write goes to a sibling temp directory
    that is renamed into place.
    """
    want = stamp(src)
    stamp_path = os.path.join(dest, "STAMP")
    if os.path.exists(stamp_path):
        with open(stamp_path) as f:
            if f.read() == want:
                return dest
    tmp = f"{dest}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in permute(read_corpus(src), seed).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(want)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    return dest
