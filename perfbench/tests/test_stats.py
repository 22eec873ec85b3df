import pytest

from perfbench.common import hd_quantile, percentile, tail_percentile
from perfbench.trace import union_length


@pytest.mark.parametrize(
    "n, expected",
    [(9, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (50, 75.0),
     (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected
    if expected is not None:
        assert n * (100 - expected) / 100 >= 10 - 1e-6


def test_percentile_is_nearest_rank():
    vals = list(range(1, 101))  # 1..100
    assert percentile(vals, 50) == 50
    assert percentile(vals, 90) == 90
    assert percentile(list(reversed(vals)), 90) == 90
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_hd_quantile_weighs_every_sample():
    vals = [float(v) for v in range(1, 42)]
    assert hd_quantile(vals, 50) == pytest.approx(21.0)  # symmetric: the middle
    assert 28 < hd_quantile(vals, 75) < 33
    # one sample moved past its neighbours shifts the estimate a little,
    # where the nearest-rank median would not move or would jump a rank
    moved = vals[:20] + [21.9] + vals[21:]
    assert 21.0 < hd_quantile(moved, 50) < 21.9
    assert hd_quantile(vals + [float("inf")], 50) == float("inf")
    with pytest.raises(ValueError):
        hd_quantile([], 50)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([(2, 1)]) == 0  # empty interval
