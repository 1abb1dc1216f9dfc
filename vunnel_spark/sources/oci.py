"""Fetch-tier OCI artifact pull (SURVEY S10).

The reference pulls the grype-db first-observed dataset from an OCI
registry via an ORAS client (tool/fixdate/grype_db_first_observed.py:
67-114: resolve manifest, stream each layer blob to disk, empty layers
tolerated).  This re-expression speaks the plain OCI distribution HTTP
API (GET /v2/<repo>/manifests/<ref>, GET /v2/<repo>/blobs/<digest>) —
no client library — and rides S11's retry/rate-limit transport, so the
whole path is unit-testable with an injected transport.

Like every fetch-tier helper: driver-side by design.  The downloaded
artifact lands as files; Spark reads the landing zone and the fix-date
dimension table is built from there (queries/joins.py J9).
"""

from __future__ import annotations

import hashlib
import json
import os
from collections.abc import Callable

from vunnel_spark.sources.http import get_with_retry

_MANIFEST_ACCEPT = ", ".join(
    [
        "application/vnd.oci.image.manifest.v1+json",
        "application/vnd.oci.image.index.v1+json",
        "application/vnd.docker.distribution.manifest.v2+json",
    ]
)

# ORAS blank layer (oras.defaults.blank_hash analogue): an artifact may
# ship an empty placeholder layer; it downloads to an empty file rather
# than failing the pull, matching the reference's /dev/null fallback.
BLANK_DIGEST = "sha256:" + hashlib.sha256(b"{}").hexdigest()


class OCIDigestMismatch(Exception):
    def __init__(self, digest: str, actual: str):
        super().__init__(f"blob digest mismatch: expected {digest}, got {actual}")
        self.expected = digest
        self.actual = actual


def _verify(digest: str, body: bytes) -> None:
    algo, _, want = digest.partition(":")
    if algo != "sha256":  # only algorithm the spec requires
        return
    got = hashlib.sha256(body).hexdigest()
    if got != want:
        raise OCIDigestMismatch(digest, got)


def fetch_oci_artifact(
    registry: str,
    repository: str,
    reference: str,
    dest: str,
    transport: Callable | None = None,
    retries: int = 3,
) -> list[str]:
    """Pull every layer of ``registry/repository:reference`` into ``dest``.

    Returns the list of written file paths.  Layer file names come from
    the OCI ``org.opencontainers.image.title`` annotation when present
    (what ORAS sets for pushed files), else the digest hex.  Each blob's
    sha256 is verified against its manifest digest — the transport is
    untrusted.
    """
    base = registry.rstrip("/")
    if not base.startswith(("http://", "https://")):
        base = f"https://{base}"
    hdrs = {}

    _, _, manifest_body = get_with_retry(
        f"{base}/v2/{repository}/manifests/{reference}",
        retries=retries,
        headers={**hdrs, "Accept": _MANIFEST_ACCEPT},
        transport=transport,
    )
    manifest = json.loads(manifest_body)
    os.makedirs(dest, exist_ok=True)

    written: list[str] = []
    for layer in manifest.get("layers", []):
        digest = layer["digest"]
        title = (layer.get("annotations") or {}).get(
            "org.opencontainers.image.title"
        ) or digest.partition(":")[2]
        # registry-supplied name: never let it escape the landing dir
        title = os.path.basename(title)
        out = os.path.join(dest, title)
        try:
            _, _, body = get_with_retry(
                f"{base}/v2/{repository}/blobs/{digest}",
                retries=retries,
                headers=hdrs,
                transport=transport,
            )
            _verify(digest, body)
        except Exception:
            if digest == BLANK_DIGEST:
                body = b""
            else:
                raise
        tmp = out + ".part"
        with open(tmp, "wb") as f:
            f.write(body)
        os.replace(tmp, out)
        written.append(out)
    return written
