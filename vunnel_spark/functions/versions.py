"""Package-version total orderings as order-preserving sortable keys.

The reference engine compares rpm versions with a comparator function
(rpmvercmp: /root/reference/src/vunnel/utils/rpm.py:133-217) fed to
``functools.cmp_to_key`` sorts.  Spark cannot sort by a comparator — sorts,
``max_by``, and window ``orderBy`` need a *column* whose natural ordering
equals the domain ordering.  So each version scheme gets an **encoder**
``version -> hex string`` such that

    rpm_vercmp(a, b) < 0  <=>  rpm_sort_key(a) < rpm_sort_key(b)   (string <)

Encoding scheme (all byte values shown as the final hex-pair alphabet —
lexicographic string order over hex chars equals byte order):

    0x00  tilde        (sorts before everything, including end-of-string)
    0x01  terminator   (end of version / end of segment list)
    0x02  caret        (sorts after end-of-string, before any other segment)
    0x03  alpha segment prefix   (then raw bytes, then 0x00-free terminator)
    0x04  numeric segment prefix (then 4-hex-digit length, then digits)

Numeric segments strip leading zeros and carry a length prefix so "10" > "9"
and "007" == "7".  Numeric prefix > alpha prefix encodes rpm's "numeric beats
alpha" rule; terminator < every segment prefix encodes "longer EVR wins";
tilde < terminator encodes "1.0~rc1 < 1.0".

Pure-Python comparators (`rpm_vercmp`, `dpkg_vercmp`) exist alongside
the encoders purely so property tests can assert
``sign(cmp(a,b)) == sign(key(a) vs key(b))`` — see tests/test_versions.py.

At scale: the encoders run as Arrow-batched pandas UDFs; the encoded key is
computed once per row in a projection, after which every downstream sort /
max_by / window is pure JVM columnar work — the Python boundary is crossed
exactly once per version string, not once per comparison.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_R_FRAGMENT = re.compile(r"([0-9]+|[a-zA-Z]+|~|\^)")

_TILDE = "00"
_TERM = "01"
_CARET = "02"
_ALPHA = "03"
_NUM = "04"


def _tokenize(version: str) -> list[str]:
    """rpm-style fragmenting: runs of digits, runs of letters, ~, ^.

    Every other character is a separator and only delimits segments
    (mirrors the semantics of the reference's rpmvercmp, which is public
    rpm behavior; reimplemented from the algorithm, not the code).
    """
    return _R_FRAGMENT.findall(version or "")


def rpm_sort_key_str(version: str) -> str:
    """Order-preserving hex encoding of one rpm version fragment list."""
    out: list[str] = []
    for tok in _tokenize(version):
        if tok == "~":
            out.append(_TILDE)
        elif tok == "^":
            out.append(_CARET)
        elif tok[0].isdigit():
            digits = tok.lstrip("0") or "0"
            if digits == "0":
                digits = ""
            out.append(_NUM + format(len(digits), "04x") + digits.encode().hex())
        else:
            out.append(_ALPHA + tok.encode().hex() + "00")
    out.append(_TERM)
    return "".join(out)


def rpm_evr_sort_key_str(evr: str) -> str:
    """Sortable key for a full ``[epoch:]version[-release]`` string.

    Epoch defaults to 0; missing release compares lower than any release
    (term byte < any segment prefix), matching rpm label-compare behavior.
    """
    epoch, version, release = split_evr(evr)
    ep = int(epoch) if epoch and epoch.isdigit() else 0
    ep_digits = str(ep) if ep else ""
    ep_key = _NUM + format(len(ep_digits), "04x") + ep_digits.encode().hex()
    return ep_key + rpm_sort_key_str(version) + rpm_sort_key_str(release)


def split_evr(evr: str) -> tuple[str, str, str]:
    """``[epoch:]version[-release]`` -> (epoch, version, release).

    Same splitting convention as the reference's EVR handling
    (/root/reference/src/vunnel/utils/rpm.py:18-87): epoch before the first
    ':', release after the *last* '-'.
    """
    evr = evr or ""
    epoch, sep, rest = evr.partition(":")
    if not sep:
        epoch, rest = "", evr
    version, sep, release = rest.rpartition("-")
    if not sep:
        version, release = rest, ""
    return epoch, version, release


# ---------------------------------------------------------------- comparators
# (test oracles only — production sorting always uses the encoded keys)

def _cmp_frag(a: str, b: str) -> int:
    # pairwise fragment walk implementing rpm ordering rules
    ta, tb = _tokenize(a), _tokenize(b)
    i = 0
    while True:
        ea, eb = i >= len(ta), i >= len(tb)
        fa = None if ea else ta[i]
        fb = None if eb else tb[i]
        for special, low in (("~", True), ("^", None)):
            sa, sb = fa == special, fb == special
            if sa and sb:
                break
            if sa or sb:
                if special == "~":
                    return -1 if sa else 1
                # caret: newer than end-of-string, older than any segment
                if sa:
                    return 1 if eb else -1
                return -1 if ea else 1
        if ea and eb:
            return 0
        if ea:
            return -1
        if eb:
            return 1
        if fa != "~" and fb != "~" and fa != "^" and fb != "^":
            da, db = fa[0].isdigit(), fb[0].isdigit()
            if da != db:
                return 1 if da else -1  # numeric beats alpha
            if da:
                na, nb = int(fa), int(fb)
                if na != nb:
                    return -1 if na < nb else 1
            elif fa != fb:
                return -1 if fa < fb else 1
        i += 1


def rpm_vercmp(a: str, b: str) -> int:
    return _cmp_frag(a, b)


def rpm_evr_cmp(a: str, b: str) -> int:
    ea, va, ra = split_evr(a)
    eb, vb, rb = split_evr(b)
    ia = int(ea) if ea and ea.isdigit() else 0
    ib = int(eb) if eb and eb.isdigit() else 0
    if ia != ib:
        return -1 if ia < ib else 1
    c = _cmp_frag(va, vb)
    if c:
        return c
    return _cmp_frag(ra, rb)


# ------------------------------------------------------------------- dpkg
_R_NONDIGIT = re.compile(r"^[^0-9]*")
_R_DIGIT = re.compile(r"^[0-9]*")


def _dpkg_char_key(c: str) -> str:
    # Debian policy §5.6.12: '~' before everything, letters before non-letters
    if c == "~":
        return _TILDE
    if c.isalpha():
        return _ALPHA + format(ord(c), "02x")
    return _NUM + format(ord(c), "02x")


def _dpkg_part_key(part: str) -> str:
    # canonical pair list: [(nondigit_run, number), ...]; trailing ("", 0)
    # pairs are no-ops under dpkg comparison ("1.0" vs "1.0" + "" runs, and
    # "" == "0") and must be trimmed so equal versions get equal keys.
    pairs = []
    s = part
    while s:
        nond = _R_NONDIGIT.match(s).group(0)
        s = s[len(nond):]
        dig = _R_DIGIT.match(s).group(0)
        s = s[len(dig):]
        pairs.append((nond, int(dig or "0")))
    # canonicalize the empty part to ONE vacuous pair instead of trimming
    # the sole ("", 0) a bare "0" parses to: "" == "0" needs equal keys,
    # but "0~" (same vacuous pair, then a tilde run) must sort BELOW both
    # — that comparison only lands on the tilde when every key carries the
    # leading run/number slots ("0" vs "0~" was ordered wrong by prefix
    # length before this; dpkg_vercmp caught it via the property test)
    if not pairs:
        pairs = [("", 0)]
    out = []
    for nond, num in pairs:
        for c in nond:
            out.append(_dpkg_char_key(c))
        out.append(_TERM)  # end of non-digit run (sorts before any char)
        digits = str(num) if num else ""
        out.append(format(len(digits), "04x") + digits.encode().hex())
    # trailing empty-run terminator so a prefix part sorts below its extension
    out.append(_TERM)
    return "".join(out)


def dpkg_sort_key_str(version: str) -> str:
    """Order-preserving key for a Debian version (epoch:upstream-revision)."""
    version = version or ""
    epoch, sep, rest = version.partition(":")
    if not (sep and epoch.isdigit()):
        epoch, rest = "0", version
    upstream, sep, revision = rest.rpartition("-")
    if not sep:
        upstream, revision = rest, ""
    ep = str(int(epoch)) if epoch.isdigit() else "0"
    ep_digits = "" if ep == "0" else ep
    ep_key = format(len(ep_digits), "04x") + ep_digits.encode().hex()
    # "!" (0x21) sorts below every hex char, so when one upstream key is a
    # strict prefix of another (only the empty-part case) the shorter+sep
    # still sorts first — "||" (0x7c) sorted ABOVE hex and broke this.
    return ep_key + _dpkg_part_key(upstream) + "!" + _dpkg_part_key(revision)


def _dpkg_cmp_part(a: str, b: str) -> int:
    while a or b:
        na = _R_NONDIGIT.match(a).group(0)
        nb = _R_NONDIGIT.match(b).group(0)
        a, b = a[len(na):], b[len(nb):]
        i = 0
        while i < len(na) or i < len(nb):
            ka = _dpkg_char_key(na[i]) if i < len(na) else _TERM
            kb = _dpkg_char_key(nb[i]) if i < len(nb) else _TERM
            if ka != kb:
                return -1 if ka < kb else 1
            i += 1
        da = _R_DIGIT.match(a).group(0)
        db = _R_DIGIT.match(b).group(0)
        a, b = a[len(da):], b[len(db):]
        ia, ib = int(da or "0"), int(db or "0")
        if ia != ib:
            return -1 if ia < ib else 1
    return 0


def dpkg_vercmp(x: str, y: str) -> int:
    def split3(v):
        epoch, sep, rest = v.partition(":")
        if not (sep and epoch.isdigit()):
            epoch, rest = "0", v
        up, sep, rev = rest.rpartition("-")
        if not sep:
            up, rev = rest, ""
        return int(epoch), up, rev

    ea, ua, ra = split3(x or "")
    eb, ub, rb = split3(y or "")
    if ea != eb:
        return -1 if ea < eb else 1
    c = _dpkg_cmp_part(ua, ub)
    if c:
        return c
    return _dpkg_cmp_part(ra, rb)


# ------------------------------------------------------------- pandas UDFs

def _memo_key_series(series: pd.Series, fn) -> pd.Series:
    """Compute ``fn`` once per DISTINCT value in the Arrow batch, then
    broadcast via a dict lookup.

    Version columns repeat heavily (a package universe has thousands of
    distinct versions across millions of rows; the w3 fixture has ~1.7k
    across 600k), so the per-row cost drops from the full key encoding
    (~10 us of Python) to a dict hit — guide §4's "do the heavy work
    once per task", applied per value.  Same fn per value -> identical
    results row for row.
    """
    m = {v: fn(v) for v in series.dropna().unique()}
    return series.map(lambda v: m[v] if v is not None else None)


@F.pandas_udf(T.StringType())
def rpm_sort_key(versions: pd.Series) -> pd.Series:
    return _memo_key_series(versions, rpm_sort_key_str)


@F.pandas_udf(T.StringType())
def rpm_evr_sort_key(evrs: pd.Series) -> pd.Series:
    return _memo_key_series(evrs, rpm_evr_sort_key_str)


@F.pandas_udf(T.StringType())
def dpkg_sort_key(versions: pd.Series) -> pd.Series:
    return _memo_key_series(versions, dpkg_sort_key_str)

