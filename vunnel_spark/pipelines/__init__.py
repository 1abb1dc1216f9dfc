"""Provider-style ETL pipelines: declarative DataFrame DAGs from source
scan to envelope sink, mirroring the reference's provider model
(/root/reference/src/vunnel/provider.py:115-180) as pure functions.

One entry point per pinned reference provider family; the reference
providers NOT listed here are true near-clones of a listed family
(minimos -> secdb, chainguard -> secdb/osv selection wrapper,
bitnami/rocky -> osv_patch_fix_dates, rocky adding only
rocky_normalize_ecosystem, govulndb -> the same OSV-passthrough shape:
a zip fetch outside this engine, sorted per-id JSON loads,
osv_patch_fix_dates with the published fallback (gated by osv1), and
alma's verbatim (id, schema_version, entry) normalize minus the
modularity/gap branches).
"""

from vunnel_spark.pipelines.sles import release_resolver  # noqa: F401

from vunnel_spark.pipelines.alma import alma_pipeline  # noqa: F401
from vunnel_spark.pipelines.arch import arch_pipeline  # noqa: F401
from vunnel_spark.pipelines.chainguard_libraries import openvex_pipeline  # noqa: F401
from vunnel_spark.pipelines.debian import debian_pipeline  # noqa: F401
from vunnel_spark.pipelines.echo import echo_pipeline  # noqa: F401
from vunnel_spark.pipelines.fedora import fedora_pipeline  # noqa: F401
from vunnel_spark.pipelines.github import github_pipeline  # noqa: F401
from vunnel_spark.pipelines.hummingbird import hummingbird_pipeline  # noqa: F401
from vunnel_spark.pipelines.mariner import mariner_pipeline  # noqa: F401
from vunnel_spark.pipelines.nvd import nvd_pipeline  # noqa: F401
from vunnel_spark.pipelines.osv import (  # noqa: F401
    osv_patch_fix_dates,
    rocky_normalize_ecosystem,
)
from vunnel_spark.pipelines.oval import oval_pipeline, sles_pipeline  # noqa: F401
from vunnel_spark.pipelines.photon import photon_pipeline  # noqa: F401
from vunnel_spark.pipelines.rhel import rhel_pipeline  # noqa: F401
from vunnel_spark.pipelines.secdb import secdb_pipeline  # noqa: F401
from vunnel_spark.pipelines.secureos import secureos_pipeline  # noqa: F401
from vunnel_spark.pipelines.ubuntu import ubuntu_pipeline  # noqa: F401
