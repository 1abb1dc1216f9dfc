"""Declared query inventory — importing this package populates the registry.

Each module covers one SURVEY.md §2 operator family; query names are
prefixed with the survey operator ids they exercise (p1_, j5_, a3_, w1_...)
so the judge can line them up with the inventory.

Ordering is DELIBERATE: the external correctness gate evaluates the first
50 registry entries in insertion order, so after all modules load we
reorder the registry to put the gate window first.

ROUND 9 ONWARD the window is COMPUTED, not hand-rotated (r6/r7 proved
manual rotation gets skipped; the r8 verdict asked for rotation-as-code):

1. ``GATE_PRIORITY`` — the queries added or semantically changed this
   round, listed by hand (the only remaining manual step, because
   "changed" is not derivable from gate history).  Always fronted.
2. Everything else, least-recently-externally-gated first, computed from
   the committed ``CORRECTNESS_r*.json`` gate reports at the repo root
   (never-gated sorts first); ties break by registry insertion order so
   the computation is deterministic.

The composition is pinned by
tests/test_plans.py::test_gate_window_composition_stable (length,
priority fronting, determinism) and the staleness lint in the same file
asserts no registered query goes more than ``MAX_GATE_AGE_ROUNDS``
rounds without external gate coverage under this policy.

External cumulative coverage through round 8: 230/230 (union of
CORRECTNESS_r01..r08 — zero never-gated, judge-verified).  Last-gated
census entering round 9: r8=50, r7=42, r5=47, r4=44, r3=47 — so the
round-9 window is the r3 block plus this round's changes, and the cycle
revisits every query at least once every ~5 rounds.
"""

from __future__ import annotations

import importlib
import json
import pkgutil
import re
from pathlib import Path

from vunnel_spark.registry import REGISTRY

#: queries added or semantically changed THIS round — always gated first.
#: Round 16: semantics unchanged everywhere; the entries are every query
#: built on the folded media synthesizers, JPEG encoders and image
#: stages of operators/multimodal.py (byte-identical payloads, pinned by
#: tests/test_multimodal_bytes.py) — the whole m-family plus llm2 — and
#: the OVAL and ALAS HTML queries whose Python stage moved onto the
#: shared Arrow row stage (vunnel_spark/row_stage.py).  Then every query
#: whose construction goes through the envelope writer's recorded-schema
#: read-back, its crash-safe existence check or the KV cache's publish
#: through that writer (sinks/writers.py), including nvd1's anti-join
#: against the stored corpus and the queries reaching debian_pipeline and
#: ubuntu_pipeline (no registered query reaches secdb_pipeline).
#: Deleting the product code only tests reached changed no registered
#: query, so it added no entry; the round-16 gate has not run, so the
#: entries above are still pending and stay.
GATE_PRIORITY: list[str] = [
    "m1_image_feature_extract",
    "m2_resize_pipeline",
    "m3_video_frame_sample",
    "m4_audio_features",
    "m5_audio_windowed_energy",
    "m6_audio_exact_dedup",
    "m7_png_feature_extract",
    "m8_png_resize_pipeline",
    "m9_jpeg_feature_extract",
    "m10_avi_mjpeg_frame_sample",
    "m11_mp4_frame_sample",
    "m12_color_jpeg_feature_extract",
    "m13_jpeg420_feature_extract",
    "m14_fmp4_frame_sample",
    "m15_progressive_jpeg_extract",
    "m16_progressive420_extract",
    "m17_flac_audio_features",
    "m18_stereo_flac_features",
    "m19_palette_adam7_extract",
    "m20_png16_feature_extract",
    "m21_rgba_png_feature_extract",
    "m22_gif_frame_extract",
    "m23_bmp_feature_extract",
    "m24_tiff_feature_extract",
    "m25_ico_feature_extract",
    "m26_webm_vp8_probe",
    "llm2_media_corpus_dag",
    "e3_oval_criteria_flatten",
    "e4_oval_ctx_flatten",
    "f7_alas_html_extract",
    "alas1_end_to_end_dag",
    "nvd1_full_corpus_reemit",
    "i4_first_observed_merge",
    "s12_sink_roundtrip",
    "s14_hash_bucket_keyed_read",
    "s15_kv_cache_changed_keys",
    "debian1_legacy_merge_dag",
    "debian2_legacy_merge_scaled",
    "ubuntu1_pro_inference",
]

#: the round GATE_PRIORITY was written for.  compute_gate_window warns
#: when this lags the upcoming round (max committed gate report + 1) —
#: the unambiguous "someone forgot the one manual step" signal; gate
#: history alone can't tell a stale leftover from changed queries that
#: also sat in last round's window.  `make preflight` promotes the
#: warning to a hard lint failure (tests/test_plans.py::
#: test_gate_priority_stamp_current under GATE_LINT_STRICT=1), so a
#: stale stamp can't survive the round's minimum pre-commit bar; the
#: plain suite keeps it a warning because the driver commits each
#: round's gate report AFTER the round's final code commit, which makes
#: the stamp lag by exactly one at judge-suite time by construction.
GATE_PRIORITY_ROUND = 16

#: size of the external gate window (the driver hash-checks this many).
WINDOW_SIZE = 50

#: staleness bar enforced by the lint: every registered query must have
#: been externally gated within this many rounds (or sit in the upcoming
#: window).  ~243 queries / 50 slots with ~10 priority slots per round
#: cycles the full registry in ~5 rounds; 6 leaves one round of slack.
MAX_GATE_AGE_ROUNDS = 6

__all__: list[str] = []

for _mod in pkgutil.iter_modules(__path__):
    if _mod.name.startswith("_"):
        continue
    importlib.import_module(f"{__name__}.{_mod.name}")
    __all__.append(_mod.name)


def gate_history(root: Path | None = None) -> tuple[dict[str, int], int]:
    """(last externally gated round per query, current round).

    Reads the committed driver gate reports ``CORRECTNESS_r<NN>.json``
    (NOT the ``CORRECTNESS_local_*`` evidence files).  The current round
    is max(report round) + 1 — the round whose gate hasn't run yet.
    """
    if root is None:
        root = Path(__file__).resolve().parents[2]
    last: dict[str, int] = {}
    rounds: list[int] = []
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f.name)
        if m is None:
            continue
        rnd = int(m.group(1))
        rounds.append(rnd)
        for name in json.loads(f.read_text()):
            last[name] = max(last.get(name, 0), rnd)
    return last, (max(rounds) + 1 if rounds else 1)


def compute_gate_window(root: Path | None = None) -> list[str]:
    """GATE_PRIORITY first, then least-recently-gated fill to WINDOW_SIZE.

    Never-gated queries sort before everything (last = -1); ties break by
    registry insertion order.  Raises KeyError on a GATE_PRIORITY name no
    module registered — a typo must fail at import, not silently shrink
    external coverage.  ``root`` overrides the gate-history directory
    (tests feed synthetic histories).
    """
    for name in GATE_PRIORITY:
        if name not in REGISTRY:
            raise KeyError(f"GATE_PRIORITY names unknown query {name!r}")
    last, upcoming = gate_history(root)
    # GATE_PRIORITY is a per-round hand-edit; when its round stamp lags
    # the upcoming round it is last round's leftover silently re-burning
    # window slots — warn loudly so the one remaining manual step can't
    # be skipped unnoticed.
    # The stamp, not list emptiness, is the signal — an empty leftover
    # list is just as stale as a populated one (ADVICE r10).
    if root is None and GATE_PRIORITY_ROUND < upcoming:
        import warnings

        warnings.warn(
            f"GATE_PRIORITY is stamped for round {GATE_PRIORITY_ROUND} but "
            f"the upcoming gate is round {upcoming} — update the list to "
            "this round's new/changed queries (or [] if none) and bump "
            "GATE_PRIORITY_ROUND",
            stacklevel=2,
        )
    order = {name: i for i, name in enumerate(REGISTRY)}
    rest = [n for n in REGISTRY if n not in set(GATE_PRIORITY)]
    rest.sort(key=lambda n: (last.get(n, -1), order[n]))
    return (list(GATE_PRIORITY) + rest)[:WINDOW_SIZE]


GATE_WINDOW = compute_gate_window()


def _apply_gate_window() -> None:
    """Reorder REGISTRY in place so GATE_WINDOW comes first."""
    window = {name: REGISTRY[name] for name in GATE_WINDOW}
    rest = {n: s for n, s in REGISTRY.items() if n not in window}
    REGISTRY.clear()
    REGISTRY.update(window)
    REGISTRY.update(rest)


_apply_gate_window()
