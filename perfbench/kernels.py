"""Direct timings of the Python parse kernels on the driver.

The payloads are the ones the ``parse_kernels`` queries decode, built by
the same public builders (``synthesize_*`` and the ALAS page builder).
Each timing returns the seconds spent and a digest of every decoded
output, so a kernel that returns different bytes on a later pass is
caught.
"""

from __future__ import annotations

import hashlib
import time


#: kernel -> the registered query whose rows it decodes; a workload times
#: the kernels of the queries it runs
QUERIES = {
    "png": "m7_png_feature_extract",
    "jpeg": "m9_jpeg_feature_extract",
    "flac": "m17_flac_audio_features",
    "alas": "alas1_end_to_end_dag",
}

#: kernel -> the per-layer metric of its timing
METRICS = {
    "png": "kernels.decode_png_s",
    "jpeg": "kernels.decode_jpeg_s",
    "flac": "kernels.decode_flac_s",
    "alas": "kernels.extract_alas_s",
}


class _Capture:
    """Stands in for a DataFrame to capture a ``mapInPandas`` function."""

    fn = None

    def mapInPandas(self, fn, schema):  # noqa: N802 - DataFrame's name
        self.fn = fn
        return self


def payloads(spark, sf_dir: str, queries: list[str]) -> dict:
    """Kernel -> its payloads, for the kernels of ``queries``."""
    from vunnel_spark.operators import multimodal as mm
    from vunnel_spark.queries._util import t
    from vunnel_spark.queries.html_q import _alas_pages

    docs = t(spark, sf_dir, "documents")

    def col(df):
        return [bytes(r[0]) for r in df.select("payload").collect()]

    build = {
        "png": lambda: col(mm.synthesize_png_media_table(docs)),
        "jpeg": lambda: col(mm.synthesize_jpeg_media_table(docs)),
        "flac": lambda: col(mm.synthesize_flac_table(docs)),
        "alas": lambda: _alas_pages(spark, sf_dir).toPandas(),
    }
    return {k: build[k]() for k, q in QUERIES.items() if q in queries}


def _digest(h, arr) -> None:
    import numpy as np

    a = np.ascontiguousarray(arr)
    h.update(str(a.shape).encode())
    h.update(a.tobytes())


def time_kernels(p: dict) -> dict[str, tuple[float, str]]:
    """Kernel name -> (seconds, output digest)."""
    from vunnel_spark.functions.html import extract_alas_packages
    from vunnel_spark.operators.multimodal import decode_flac, decode_jpeg, decode_png

    out = {}
    for name, fn in (("png", decode_png), ("jpeg", decode_jpeg), ("flac", decode_flac)):
        if name not in p:
            continue
        t0 = time.perf_counter()
        decoded = [fn(b) for b in p[name]]
        secs = time.perf_counter() - t0
        h = hashlib.sha256()
        for d in decoded:
            for part in d if isinstance(d, tuple) else (d,):
                _digest(h, part)
        out[METRICS[name]] = (secs, h.hexdigest()[:16])
    if "alas" not in p:
        return out
    cap = _Capture()
    extract_alas_packages(cap)
    t0 = time.perf_counter()
    frames = list(cap.fn(iter([p["alas"]])))
    secs = time.perf_counter() - t0
    h = hashlib.sha256()
    for f in frames:
        h.update(f.to_csv(index=False).encode())
    out[METRICS["alas"]] = (secs, h.hexdigest()[:16])
    return out
