"""Sketch-tier builders of ``queries/sketches.py`` against independent
references:

- histogram quantile read-out: estimates bracketed by the rank-holding
  bin against a pure-numpy reference,
- Count-Min probes: every bucket equals the one Python's md5 gives.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# ---------------------------------------------------------------------------
# hist_quantile_readout: bracketing + numpy reference
# ---------------------------------------------------------------------------


@given(
    counts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=63),
            st.integers(min_value=1, max_value=50),
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    )
)
@_settings
def test_hist_readout_matches_numpy(spark, counts):
    """The rank-interpolation read-out must locate the bin holding rank
    ceil(q*n) (cumulative bracketing) and interpolate inside it — checked
    against an independent numpy cumulative scan for arbitrary sparse
    histograms."""
    from jp_qcew_spark.queries.sketches import hist_quantile_readout

    width = 10
    hist = spark.createDataFrame(
        [("g", b, c) for b, c in counts], "flag string, bin long, cnt long"
    )
    (row,) = hist_quantile_readout(hist, width).collect()
    bins = np.array(sorted(b for b, _ in counts))
    cnts = np.array([dict(counts)[b] for b in bins])
    cum = np.cumsum(cnts)
    n = int(cum[-1])
    assert row.n == n
    for q, est in ((0.5, row.e50), (0.95, row.e95)):
        r = int(np.ceil(q * n))
        k = int(np.searchsorted(cum, r))
        lo = int(bins[k]) * width
        cumb = int(cum[k - 1]) if k else 0
        expect = lo + width * (r - cumb) / int(cnts[k])
        assert est == pytest.approx(expect, abs=1e-9)
        assert lo < est <= lo + width  # interpolation stays inside the bin


def test_cms_probes_match_python_md5(spark):
    """``_cms_probes`` puts key k of hash row j in the bucket named by the
    last two hex chars of md5(f"{j}-{k}"), for small, 2^40 and negative
    keys."""
    from jp_qcew_spark.queries.sketches import _CMS_D, _cms_probes

    keys = [0, 1, 2**40, -7]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {(r.k, r.j): r.b for r in _cms_probes(df).collect()}
    want = {
        (k, j): int(hashlib.md5(f"{j}-{k}".encode()).hexdigest()[30:32], 16)
        for k in keys
        for j in range(_CMS_D)
    }
    assert got == want
