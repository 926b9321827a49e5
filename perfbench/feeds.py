"""Seeded monthly taxi feeds and the counts they must produce.

The taxi frames come from ``sources.fixture_taxi.orders_as_taxi``: the
1995 orders become 2024 trips, one row per (order, copy). Its mapping
is a pure function of order columns, so everything a feed should do to
the warehouse can be counted here from the orders table alone, without
Spark and without the program's code:

- a taxi row's month is its order's month; its ``pulocationid`` is
  ``o_orderkey % 200``;
- two taxi rows are equal only if their orders agree on the order date,
  ``o_orderkey mod 12600`` (the lcm of the moduli the mapping uses),
  ``o_custkey % 200`` (``dolocationid``, which fixes ``passenger_count``)
  and ``o_totalprice``, and they are the same copy. Two rows share a
  dead-letter key (``schemas.INVALID_RECORDS_KEY``) if they agree on the
  same with ``o_orderkey mod 1800`` in place of ``mod 12600``: the key
  leaves out the columns derived from ``o_orderkey % 6`` and ``% 7``.

A feed month ``m`` is the month's rows plus:

- exact duplicates of the month's rows at ``dup_locations[m]``, which
  bronze keeps and silver's dedup removes;
- early arrivals: the rows of the next ``EARLY_LEAD`` months ``k`` at
  ``early_locations[k]``. They are fresh and outside the month window,
  so the first batch that carries a row dead-letters it and the second
  is removed by the dead-letter anti-join.

Which locations are chosen is the workload seed's only effect on a feed.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

LOCATIONS = 200
EARLY_LEAD = 2  # a batch carries the next two months' early arrivals
EARLY_SHARE = 10  # early-arriving pickup locations per month, of 200
DUP_SHARE = 6  # duplicated pickup locations per month, of 200
# o_orderkey moduli of fixture_taxi: lcm(24, 90, 200, 5, 6, 7) for a
# whole row, lcm(24, 90, 200, 5) for the columns of the dead-letter key
_ROW_MODULUS = 12_600
_KEY_MODULUS = 1_800


@dataclass(frozen=True)
class FeedPlan:
    months: tuple[int, ...]  # loaded by every timed pass
    base_months: tuple[int, ...]  # loaded once before timing
    copies: int
    # month -> pulocationids whose rows arrive early / arrive twice
    early_locations: dict[int, tuple[int, ...]] = field(default_factory=dict)
    dup_locations: dict[int, tuple[int, ...]] = field(default_factory=dict)

    @property
    def all_months(self) -> tuple[int, ...]:
        return self.base_months + self.months

    def early_months(self, m: int) -> list[int]:
        return [k for k in range(m + 1, m + 1 + EARLY_LEAD) if k in self.early_locations]


def make_plan(
    months: tuple[int, ...],
    base_months: tuple[int, ...],
    copies: int,
    seed: int,
) -> FeedPlan:
    """Per month, ``DUP_SHARE`` duplicated and ``EARLY_SHARE``
    early-arriving locations out of 200, drawn from ``seed``. Early
    arrivals come from up to ``EARLY_LEAD`` months past the last loaded
    one (December at most)."""
    rng = np.random.default_rng(seed)
    early, dup = {}, {}
    for k in range(1, 13):
        early[k] = tuple(sorted(int(x) for x in rng.choice(LOCATIONS, EARLY_SHARE, replace=False)))
        dup[k] = tuple(sorted(int(x) for x in rng.choice(LOCATIONS, DUP_SHARE, replace=False)))
    loaded = base_months + months
    early = {k: v for k, v in early.items() if min(loaded) < k <= min(12, max(loaded) + EARLY_LEAD)}
    return FeedPlan(tuple(months), tuple(base_months), copies, early, dup)


@dataclass(frozen=True)
class Expected:
    loaded: dict[int, int]  # month -> rows the first load of its batch lands in bronze
    silver_after: dict[int, int]  # month -> silver rows after that month is loaded
    added: dict[int, int]  # month -> silver rows that month adds
    dead_lettered: dict[int, int]  # month -> rows its first load dead-letters
    early_offered: dict[int, int]  # month -> early-arrival rows its batch carries

    @property
    def silver_rows(self) -> int:
        return self.silver_after[max(self.silver_after)]


def _orders_1995(orders: pa.Table) -> dict[str, np.ndarray]:
    date = orders.column("o_orderdate").cast(pa.timestamp("us")).to_numpy()
    year = date.astype("datetime64[Y]").astype(int) + 1970
    keep = year == 1995
    date = date[keep]
    return {
        "month": date.astype("datetime64[M]").astype(int) % 12 + 1,
        "day": date.astype("datetime64[D]").astype(np.int64),
        "key": orders.column("o_orderkey").to_numpy()[keep],
        "cust": orders.column("o_custkey").to_numpy()[keep],
        "price": orders.column("o_totalprice").to_numpy()[keep],
    }


def _distinct(o: dict[str, np.ndarray], mask: np.ndarray, key_modulus: int) -> int:
    """Distinct taxi rows per copy among the orders under ``mask``, two
    rows being the same if their orders agree on the order date,
    ``o_orderkey mod key_modulus``, ``o_custkey % 200`` and price."""
    ident = np.stack(
        [
            o["day"][mask],
            o["key"][mask] % key_modulus,
            o["cust"][mask] % LOCATIONS,
            np.round(o["price"][mask] * 100).astype(np.int64),
        ],
        axis=1,
    )
    return int(len(np.unique(ident, axis=0))) if len(ident) else 0


def expected(plan: FeedPlan, orders: pa.Table) -> Expected:
    o = _orders_1995(orders)
    loc = o["key"] % LOCATIONS
    c = plan.copies
    loaded, silver_after, added, dead, offered = {}, {}, {}, {}, {}
    total = 0
    seen_early: set[int] = set()
    for m in plan.all_months:
        in_month = o["month"] == m
        dup_mask = in_month & np.isin(loc, plan.dup_locations.get(m, ()))
        loaded[m] = int(in_month.sum() + dup_mask.sum()) * c
        added[m] = _distinct(o, in_month, _ROW_MODULUS) * c
        total += added[m]
        silver_after[m] = total
        n_dead = n_offered = 0
        for k in plan.early_months(m):
            e_mask = (o["month"] == k) & np.isin(loc, plan.early_locations[k])
            n_offered += int(e_mask.sum()) * c
            if k not in seen_early:
                n_dead += _distinct(o, e_mask, _KEY_MODULUS) * c
                seen_early.add(k)
        dead[m] = n_dead
        offered[m] = n_offered
    return Expected(loaded, silver_after, added, dead, offered)
