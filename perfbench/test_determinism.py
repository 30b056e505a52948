"""The benchmark's inputs are a pure function of the seed.

    python3 -m pytest perfbench/test_determinism.py -q

Needs no Spark: generation uses numpy, pandas and pyarrow only.
"""

from __future__ import annotations

import filecmp
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import shop, star  # noqa: E402
from perfbench.workloads import MedallionTrickle  # noqa: E402


def _feed(seed):
    return shop.Trickle(seed, MedallionTrickle.DAYS, MedallionTrickle.BASE_ORDERS)


def _landing_bytes(feed, ops):
    out = {("base", t): shop.to_csv(df) for t, df in feed.base().items()}
    for k in ops:
        out.update({(k, t): shop.to_csv(df) for t, df in feed.op(k).items()})
    return out


def test_star_tables_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / d) for d in ("a", "b", "c"))
    star.write(7, a)
    star.write(7, b)
    star.write(8, c)
    names = [f"{t}.parquet" for t in star.TABLES]
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    assert not filecmp.cmp(os.path.join(a, "lineitem.parquet"),
                           os.path.join(c, "lineitem.parquet"), shallow=False)


def test_landing_files_and_expected_kpis_identical_per_seed():
    first, second = _feed(7), _feed(7)
    # operations in another order: each is a function of its index alone
    assert _landing_bytes(first, [0, 1, 2, 3]) == _landing_bytes(second, [3, 1, 0, 2])
    for n in (0, 1, 4):
        want, got = first.expected(n), second.expected(n)
        assert want.keys() == got.keys()
        for table in want:
            assert want[table].equals(got[table]), table
    assert _landing_bytes(_feed(7), [0]) != _landing_bytes(_feed(8), [0])


def test_trickle_expected_leaves_out_poison_and_pending():
    feed = _feed(7)
    base_items = len(feed.base()["order_items"])
    sold = {n: int(feed.expected(n)["order_kpis_daily"]["total_items_sold"].sum())
            for n in (0, 1, 2)}
    assert sold[0] == base_items
    o, now, held, poison = feed._split(0)
    assert len(poison) >= 1 and (poison["sale_price"] == "-1.00").all()
    # after one op the held items are pending; after two they have landed
    assert sold[1] - sold[0] == len(now)
    assert sold[2] - sold[1] == len(feed._split(1)[1]) + len(held)
    late = feed.expected(2)["late_audit"]["late_items_absorbed"].sum()
    partial = held["order_id"].str.slice(-2).astype(int).isin(list(feed.PARTIAL))
    assert late == partial.sum() > 0
