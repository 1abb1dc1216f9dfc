"""Property tests: version sort-key encoders are order-preserving.

The core contract (SURVEY §4.3): for every scheme,
``sign(cmp(a, b)) == sign(key(a) <=> key(b))`` under plain string ordering —
that is what makes Spark orderBy/max_by/window over the encoded key
equivalent to the reference's comparator-based sorts
(rpmvercmp: /root/reference/src/vunnel/utils/rpm.py:133-217).
"""

from __future__ import annotations

import itertools

from hypothesis import given, settings
from hypothesis import strategies as st

from vunnel_spark.functions.versions import (
    dpkg_sort_key_str,
    dpkg_vercmp,
    rpm_evr_cmp,
    rpm_evr_sort_key_str,
    rpm_sort_key_str,
    rpm_vercmp,
)


def sign(x: int) -> int:
    return (x > 0) - (x < 0)


def strcmp(a: str, b: str) -> int:
    return (a > b) - (a < b)


# ---------------------------------------------------------------- fixtures

RPM_CORPUS = [
    "1.0", "1.0.0", "1.0.1", "1.01", "0.9", "10.0", "9.0", "2",
    "1.0~rc1", "1.0~rc2", "1.0~~", "1.0^", "1.0^20220101", "1.0^git1",
    "1.0a", "1.0A", "1.0.a", "a", "A", "ab", "b", "0", "007", "7",
    "1.fc39", "1.el9", "4.19.0-1", "1:1.0", "", "1.", ".1", "~", "^",
    "1.2.3.4.5", "1..2", "alpha1", "1alpha", "20220506",
]

EVR_CORPUS = [
    "0:1.0-1", "1:0.9-1", "1.0-1", "1.0-2", "1.0", "2:0.1-0.1.el9",
    "1.0-1.fc39", "1.0-1.el9", "0:1.0", "3:4.19-7", "1:1.0~rc1-1",
]

DPKG_CORPUS = [
    "1.0-1", "1.0-2", "1.0", "0:1.0", "1:0.5", "1.0~rc1-1", "1.0~~a",
    "1.0+dfsg-1", "1.0+dfsg-1ubuntu1", "2.4.1-3~bpo11+1", "1.0a-1",
    "0.0.0", "007", "7", "1.0-1.1", "1.0-1ubuntu1", "", "1~", "1+",
]

def check_order_preserving(corpus, cmp_fn, key_fn):
    for a, b in itertools.combinations(corpus, 2):
        c, k = sign(cmp_fn(a, b)), sign(strcmp(key_fn(a), key_fn(b)))
        assert c == k, f"cmp({a!r},{b!r})={c} but keycmp={k} ({key_fn(a)!r} vs {key_fn(b)!r})"


def test_rpm_corpus_order_preserving():
    check_order_preserving(RPM_CORPUS, rpm_vercmp, rpm_sort_key_str)


def test_rpm_evr_corpus_order_preserving():
    check_order_preserving(EVR_CORPUS, rpm_evr_cmp, rpm_evr_sort_key_str)


def test_dpkg_corpus_order_preserving():
    check_order_preserving(DPKG_CORPUS, dpkg_vercmp, dpkg_sort_key_str)


def test_known_rpm_orderings():
    # canonical rpmvercmp cases (public rpm behavior)
    assert rpm_vercmp("1.0", "1.0") == 0
    assert rpm_vercmp("1.0", "2.0") < 0
    assert rpm_vercmp("007", "7") == 0
    assert rpm_vercmp("10", "9") > 0
    assert rpm_vercmp("1.0~rc1", "1.0") < 0          # tilde = pre-release
    assert rpm_vercmp("1.0^", "1.0") > 0             # caret = post-release
    assert rpm_vercmp("1.0^", "1.0.1") < 0           # caret < any segment
    assert rpm_vercmp("1.0a", "1.0") > 0             # extra segment wins
    assert rpm_vercmp("1a", "12") < 0                # numeric beats alpha
    assert rpm_evr_cmp("1:0.1-1", "0:99-99") > 0     # epoch dominates
    assert rpm_evr_cmp("1.0-1", "0:1.0-1") == 0      # default epoch 0


def test_known_dpkg_orderings():
    assert dpkg_vercmp("1.0-1", "1.0-2") < 0
    assert dpkg_vercmp("1.0~rc1-1", "1.0-1") < 0     # tilde before everything
    assert dpkg_vercmp("1.0a-1", "1.0+dfsg-1") < 0   # letters before non-letters? a<+? no:
    # Debian policy: letters sort before non-letters, so 'a' < '+' is TRUE
    assert dpkg_vercmp("1:0.1", "2.0") > 0           # epoch dominates
    assert dpkg_vercmp("1.0", "1.00") == 0


# ------------------------------------------------------------ hypothesis

_rpm_token = st.one_of(
    st.from_regex(r"[0-9]{1,6}", fullmatch=True),
    st.from_regex(r"[a-zA-Z]{1,4}", fullmatch=True),
    st.sampled_from(["~", "^", ".", "-", "_", "+"]),
)
_rpm_version = st.lists(_rpm_token, min_size=0, max_size=8).map("".join)


@settings(max_examples=300, deadline=None)
@given(_rpm_version, _rpm_version)
def test_rpm_property(a, b):
    assert sign(rpm_vercmp(a, b)) == sign(strcmp(rpm_sort_key_str(a), rpm_sort_key_str(b)))


_dpkg_version = st.from_regex(r"([0-9]{1,3}:)?[0-9][A-Za-z0-9.+~]{0,10}(-[A-Za-z0-9+.~]{1,6})?", fullmatch=True)


@settings(max_examples=300, deadline=None)
@given(_dpkg_version, _dpkg_version)
def test_dpkg_property(a, b):
    assert sign(dpkg_vercmp(a, b)) == sign(strcmp(dpkg_sort_key_str(a), dpkg_sort_key_str(b)))
