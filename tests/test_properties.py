"""Property-based tests (hypothesis) for the driver-side pure functions.

The SURVEY §5 test plan calls for property tests where the reference
had none. These cover the pure-Python seams whose edge cases unit
examples tend to miss: landing-file selection, run-date formatting, and
the cross-engine hash-family invariants. Spark-free → they run in
milliseconds.
"""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import given
from hypothesis import strategies as st

from bc_proj3_spark.io.landing import format_run_date, get_latest_file
from bc_proj3_spark.operators.similarity import _hyperplane_sign, _weights

_DIGITS = st.text(alphabet="0123456789", min_size=8, max_size=8)


@given(_DIGITS, st.sampled_from(["-", "_"]))
def test_format_run_date_shape(run_date, sep):
    out = format_run_date(run_date, sep)
    assert len(out) == 10
    assert out[4] == sep and out[7] == sep
    assert out.replace(sep, "") == run_date


@pytest.mark.parametrize("bad", ["2023041", "202304011", "2023-04-01", "2023O401", "", "２０２３０４０１"])
def test_format_run_date_rejects_malformed(bad):
    # a ValueError, not an assert: python -O must not strip the check
    with pytest.raises(ValueError, match="YYYYMMDD"):
        format_run_date(bad, "-")


@given(
    st.lists(
        st.tuples(
            st.text(alphabet="0123456789", min_size=1, max_size=6),  # epoch seg
            st.text(alphabet="abcdefgh", min_size=1, max_size=5),  # name seg
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    )
)
def test_get_latest_file_picks_string_max_epoch(parts):
    """The selected file always carries the lexicographically-max epoch
    segment — the reference's exact (string-compare) semantics
    (bronze_arxiv.py:34-40), including the '999' > '1000' quirk."""
    files = [f"/landing/2023-04-01_{epoch}_{name}.jsonl" for epoch, name in parts]
    chosen = get_latest_file(files)
    epochs = [epoch for epoch, _ in parts]
    assert f"_{max(epochs)}_" in chosen


@given(
    st.lists(
        st.text(
            alphabet="abcdefghijklmnopqrstuvwxyz0123456789.-_",
            min_size=1,
            max_size=20,
        ),
        min_size=1,
        max_size=10,
    )
)
def test_get_latest_file_returns_member(names):
    """Any filename-safe name segment (including ones containing '_')
    still selects a member of the input list."""
    files = [f"/x/2023-04-01_{i}_{n}.jsonl" for i, n in enumerate(names)]
    assert get_latest_file(files) in files


@given(st.integers(0, 31), st.integers(0, 7), st.integers(0, 127))
def test_hyperplane_sign_matches_md5_low_bit(t, b, i):
    """The baked-constant hyperplane family must stay in lockstep with
    the md5-low-bit derivation the SQL oracles replay."""
    h = int(hashlib.md5(f"{t}:{b}:{i}".encode()).hexdigest()[:8], 16)
    expected = 1.0 if h & 1 else -1.0
    assert _hyperplane_sign(t, b, i) == expected


@given(st.integers(0, 7), st.integers(0, 3))
def test_weights_are_unit_signs(t, b):
    w = _weights(t, b)
    assert len(w) == 64
    assert set(w) <= {1.0, -1.0}
    # deterministic: same (t, b) → same vector
    assert w == _weights(t, b)


# ---------------------------------------------------------------------------
# t17 PII regexes: pure-Python invariants of the shared patterns
# ---------------------------------------------------------------------------

import re

from bc_proj3_spark.operators.textstats import _PII_EMAIL, _PII_PHONE

_WORDS = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz ", min_size=0, max_size=60
)


@given(_WORDS, st.integers(min_value=0, max_value=10**9))
def test_pii_scrub_is_idempotent(text, n):
    """Redacting already-redacted text must change nothing — the
    invariant that lets the scrub re-run safely over partial outputs."""
    raw = f"Contact user{n}@example.com or call 555-01{n % 100}. {text}"
    scrub = lambda s: re.sub(
        _PII_PHONE, "<PHONE>", re.sub(_PII_EMAIL, "<EMAIL>", s)
    )
    once = scrub(raw)
    assert scrub(once) == once
    assert "@example.com" not in once
    assert re.search(_PII_PHONE, once) is None


@given(_WORDS, st.integers(min_value=0, max_value=10**9))
def test_pii_patterns_find_injected_contacts(text, n):
    raw = f"Contact user{n}@example.com or call 555-01{n % 100}. {text}"
    assert len(re.findall(_PII_EMAIL, raw)) >= 1
    assert len(re.findall(_PII_PHONE, raw)) >= 1


# ---------------------------------------------------------------------------
# t18 entropy: bounds replayed on the exact formula both engines use
# ---------------------------------------------------------------------------

import math


@given(st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=30))
def test_token_entropy_formula_bounds(counts):
    """H = log2(N) - sum(c log2 c)/N must sit in [0, log2(#distinct)]
    for any count multiset — uniform maximizes, single-token zeroes."""
    n = sum(counts)
    h = math.log2(n) - sum(c * math.log2(c) for c in counts) / n
    assert -1e-9 <= h <= math.log2(len(counts)) + 1e-9
    if len(counts) == 1:
        assert abs(h) < 1e-9


# ---------------------------------------------------------------------------
# sk7 bottom-k: mergeability of the hash sample (the distributed claim)
# ---------------------------------------------------------------------------


@given(
    st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=200),
    st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=200),
)
def test_bottomk_sample_is_mergeable(shard_a, shard_b):
    """bottomk(A ∪ B) == bottomk(bottomk(A) ∪ bottomk(B)) under the
    deterministic md5 order — the property that makes the sk7 sample a
    sketch (per-shard bottom-k's merge losslessly), mirroring the
    Spark plan's partial WindowGroupLimit before the exchange."""
    k = 16
    key = lambda x: (hashlib.md5(f"7:{x}".encode()).hexdigest()[:8], x)
    bottomk = lambda xs: sorted(xs, key=key)[:k]
    direct = bottomk(shard_a + shard_b)
    merged = bottomk(bottomk(shard_a) + bottomk(shard_b))
    assert direct == merged
