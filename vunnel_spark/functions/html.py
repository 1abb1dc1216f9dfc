"""HTML fixed-package extraction (SURVEY F7 / S6, Amazon ALAS shape).

Re-expresses the reference's ``PackagesHTMLParser`` state machine
(``/root/reference/src/vunnel/providers/amazon/parser.py:276-331``; used in
the scan flow at ``parser.py:199-207``) as an Arrow row stage
(``vunnel_spark.row_stage``):

- the element carrying ``id="new_packages"`` opens package collection;
- a data token in the arch list (``x86_64:``, ``noarch:``, ``src:``) opens a
  relevant-arch section; any other ``...:`` token closes it;
- data tokens inside a relevant-arch section are fixed-package filenames;
- the ``id="issue_overview"`` element collects description text (minus the
  "Issue Overview:" heading itself).

HTML parsing is inherently imperative (SURVEY §2.11 F7: "UDF inside scan
stage"), so this is one of the repo's few sanctioned Python-UDF paths —
Arrow-batched, one document per input row, never row-at-a-time Python in
a hot JVM path.  At 100 TB the html column arrives from a
landing-zone scan (binaryFile/text) already partitioned by page; this stage
is embarrassingly parallel and shuffle-free.
"""

from __future__ import annotations

from html.parser import HTMLParser

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from vunnel_spark.row_stage import row_stage

_ARCH_LIST = ("x86_64:", "noarch:", "src:")

EXTRACT_SCHEMA = StructType(
    [
        StructField("page_id", LongType()),
        StructField("arch", StringType()),
        StructField("pkg", StringType()),
        StructField("overview", StringType()),
    ]
)


class _AlasParser(HTMLParser):
    """State machine mirroring the reference's PackagesHTMLParser semantics."""

    def __init__(self) -> None:
        super().__init__()
        self.fixes: list[tuple[str, str]] = []  # (arch, pkg)
        self.overview_parts: list[str] = []
        self._fix_tag: str | None = None
        self._overview_tag: str | None = None
        self._arch: str | None = None

    def handle_starttag(self, tag, attrs):
        if ("id", "new_packages") in attrs:
            self._fix_tag = tag
        if ("id", "issue_overview") in attrs:
            self._overview_tag = tag

    def handle_endtag(self, tag):
        if self._fix_tag == tag:
            self._fix_tag = None
            self._arch = None
        if self._overview_tag == tag:
            self._overview_tag = None

    def handle_data(self, data):
        data = data.strip()
        if self._fix_tag is not None and data:
            if data in _ARCH_LIST:
                self._arch = data.rstrip(":")
            elif data.endswith(":"):
                # irrelevant arch (i686:) or other section header
                self._arch = None
            elif self._arch is not None:
                self.fixes.append((self._arch, data))
        if self._overview_tag is not None and data and "Issue Overview:" not in data:
            self.overview_parts.append(data)


def extract_alas_packages(
    df: DataFrame, html_col: str = "html", id_col: str = "page_id"
) -> DataFrame:
    """(page_id, arch, pkg, overview) rows from ALAS-style HTML documents.

    One input row per HTML page; output fan-out is one row per fixed
    package found under a relevant arch section.
    """

    def parse(pid, html):
        p = _AlasParser()
        p.feed(html)
        overview = "".join(p.overview_parts)
        for arch, pkg in p.fixes:
            yield (pid, arch, pkg, overview)

    return row_stage(df, EXTRACT_SCHEMA, (id_col, html_col), parse)


def alas_name_version(pkg):
    """(name, version) struct Column per get_package_name_version
    (amazon/parser.py:149-161) over rpm.split_rpm_filename
    (utils/rpm.py:18-51): '.rpm' appended when missing, the trailing
    '.arch' segment STRIPPED, then name-version-release recovered with
    rsplit('-', 2); version = 'version-release' (or bare version when
    release is empty) and any 'epoch:' prefix on the name is DROPPED
    ('1:bar-9-123a.ia64.rpm' -> ('bar', '9-123a') — the epoch never
    reaches the FixedIn).  A string the reference would crash on
    (fewer than two dashes) yields empty fields here instead — the
    declarative plan has no per-row abort, the same documented
    deviation as the other parse paths.
    """
    from pyspark.sql import functions as F

    full = F.when(pkg.endswith(".rpm"), pkg).otherwise(
        F.concat(pkg, F.lit(".rpm"))
    )
    body = F.regexp_extract(full, r"^(.*)\.rpm$", 1)
    noarch = F.regexp_extract(body, r"^(.*)\.[^.]*$", 1)
    name_raw = F.regexp_extract(noarch, r"^(.*)-[^-]*-[^-]*$", 1)
    version = F.regexp_extract(noarch, r"-([^-]*)-[^-]*$", 1)
    release = F.regexp_extract(noarch, r"-([^-]*)$", 1)
    name = F.regexp_replace(name_raw, r"^[^:]*:", "")
    ver = F.when(release != "", F.concat_ws("-", version, release)).otherwise(
        version
    )
    return F.struct(name.alias("name"), ver.alias("version"))
