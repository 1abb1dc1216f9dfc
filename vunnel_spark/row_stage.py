"""Arrow row stages: the engine's one ``mapInPandas`` batch loop.

Some Python work cannot be Catalyst: the media codecs, the OVAL criteria
walk (one XML document in, many rows out), ALAS HTML parsing and archive
demux.  Each runs per row inside an Arrow-batched ``mapInPandas`` stage,
and every such stage goes through :func:`row_stage`: the stage supplies
a per-row function, the shell owns the batch loop and the output column
names.

This module imports nothing from ``vunnel_spark``, so sources, functions
and operators can all use it.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterable, Iterator, Sequence


def schema_names(schema) -> list[str]:
    """Top-level field names of ``schema``, a ``StructType`` or a DDL string.

    A DDL string is split at the commas outside ``<...>`` and ``(...)``,
    so a ``struct<a:int, b:int>`` field stays one field.  Needs no
    SparkContext, unlike ``StructType.fromDDL``.
    """
    if not isinstance(schema, str):
        return list(schema.fieldNames())
    names, depth, start = [], 0, 0
    for i, ch in enumerate(schema + ","):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and not depth:
            names.append(re.match(r"\s*(\w+)", schema[start:i]).group(1))
            start = i + 1
    return names


def row_stage(
    df,
    schema,
    in_cols: Sequence[str],
    row_fn: Callable[..., Iterable[tuple]],
):
    """``df.mapInPandas`` over a per-row function.

    For every row of every Arrow batch, the ``in_cols`` values are passed
    to ``row_fn(*values)``, which returns that row's output tuples (zero,
    one or many) in ``schema`` order.  Each input batch becomes one output
    batch whose column names come from ``schema``, derived once on the
    driver.  Only ``mapInPandas`` is called on ``df``: callers select the
    input columns themselves.
    """
    cols = schema_names(schema)
    in_cols = list(in_cols)

    def rows(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out: list[tuple] = []
            # zip the column arrays, not iterrows(): iterrows builds a
            # pandas Series per row (~100 us/row, more than the OVAL tree
            # walk itself)
            for values in zip(*(pdf[c] for c in in_cols)):
                out.extend(row_fn(*values))
            yield pd.DataFrame(out, columns=cols)

    return df.mapInPandas(rows, schema)
