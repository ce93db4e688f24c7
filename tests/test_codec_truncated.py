"""A Gorilla bitstream that ends before its header's point count is
rejected, not decoded from the reader's zero padding."""

from __future__ import annotations

import numpy as np
import pytest

from aisdb_spark.operators.codec import (
    decode_ts,
    decode_vals,
    encode_ts,
    encode_vals,
)


@pytest.mark.parametrize("cut", [1, 5, 40])
def test_truncated_blob_raises(cut):
    rng = np.random.default_rng(cut)
    ts = np.cumsum(rng.integers(1, 10**6, 300)).astype(np.int64)
    vals = rng.standard_normal(300)
    with pytest.raises(ValueError, match="truncated"):
        decode_ts(encode_ts(ts)[:-cut])
    with pytest.raises(ValueError, match="truncated"):
        decode_vals(encode_vals(vals)[:-cut])
