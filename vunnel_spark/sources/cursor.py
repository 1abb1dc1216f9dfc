"""Resumable cursor pagination (SURVEY I3).

The reference's GitHub provider walks a GraphQL cursor and can resume a
parse from the last persisted cursor after an interruption
(providers/github/parser.py:186-229).  Fetching itself is driver-side by
design (SURVEY maps S2/I3 to the fetch tier); what belongs in the engine
repo is the durable-checkpoint helper and the paginate-with-checkpoint
loop, so any provider fetcher gets crash-safe resume for free.  The
fetched pages land in the KV cache / landing zone, where Spark takes
over.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Callable, Iterator


class CursorCheckpoint:
    """Durable cursor: atomically persisted JSON {cursor, n_pages}.

    Writes go through tmp+rename so a crash mid-write leaves the previous
    checkpoint intact (same discipline as every sink in this repo).
    """

    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)

    def get(self) -> dict:
        if not os.path.exists(self.path):
            return {"cursor": None, "n_pages": 0}
        with open(self.path) as f:
            return json.load(f)

    def advance(self, cursor) -> None:
        state = self.get()
        state["cursor"] = cursor
        state["done"] = cursor is None
        state["n_pages"] = state["n_pages"] + 1
        tmp = f"{self.path}.tmp{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.path)

    def reset(self) -> None:
        if os.path.exists(self.path):
            os.remove(self.path)


def paginate(
    fetch_page: Callable,
    checkpoint: CursorCheckpoint,
) -> Iterator:
    """Cursor loop with durable resume.

    ``fetch_page(cursor) -> (items, next_cursor)``; ``next_cursor=None``
    ends the walk.  The checkpoint advances AFTER each page is yielded
    (and therefore after the caller has landed it), so a crash re-fetches
    at most the in-flight page — at-least-once landing, dedup-on-write
    downstream makes it exactly-once (A12 semantics).
    """
    state = checkpoint.get()
    if state.get("done"):
        return
    cursor = state["cursor"]
    n = 0
    while True:
        items, next_cursor = fetch_page(cursor)
        yield items
        n += 1
        checkpoint.advance(next_cursor)
        if next_cursor is None:
            return
        cursor = next_cursor
