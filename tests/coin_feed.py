"""Seeded CoinGecko ``/coins/markets``-shaped records for pipeline tests
that need no captured reference snapshot."""

from __future__ import annotations

import random


def coin_page(ds: str, coin_ids: list[str], seed: int) -> list[dict]:
    """One record per coin for the ``ds`` day, with the page's nested
    ``roi`` (null for most coins, a struct for some)."""
    rng = random.Random(f"{seed}/{ds}")
    records = []
    for rank, c in enumerate(coin_ids, 1):
        price = 10 ** rng.uniform(-3, 4.5)
        secs = rng.randrange(86400)
        records.append({
            "id": c, "symbol": c[-3:], "name": c.replace("-", " ").title(),
            "current_price": price, "market_cap": price * 10 ** rng.uniform(6, 11),
            "market_cap_rank": rank, "total_volume": price * rng.uniform(1e5, 1e8),
            "roi": {"times": rng.uniform(0, 50), "currency": "usd", "percentage": rng.uniform(0, 5000)}
            if rank % 7 == 0 else None,
            "last_updated": f"{ds}T{secs // 3600:02d}:{secs // 60 % 60:02d}:{secs % 60:02d}.000Z",
        })
    return records
