"""Seeded generator for the pipeline's landing batches.

The registered queries read the fixture tables committed under
``perfbench/fixtures/``; only the Shopify-order CSV that the pipeline
lands on every tick is generated, so that each tick brings new rows.
The same (seed, batch) always gives the same frame.
"""

from __future__ import annotations

import numpy as np

PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


SHOPS = ("Shopify_Litheli_EU", "Shopify_Litheli_US", "Shopify_Litheli_UK", "Shopify_Litheli_CA")
ORDER_HEADERS = (
    "Order ID", "Order Number", "Source Name", "SKU", "Product Title", "Quantity",
    "Price", "Total Price", "Currency", "Financial Status", "Fulfillment Status",
    "Customer Email", "Country Code", "Discount Amount", "Tax Amount",
    "Taxes Included", "Date", "Created At", "ETL Time",
)


def shopify_orders(seed: int, batch: int, n_rows: int):
    """One landing batch of Shopify order lines (FIXTURES.md §1) as a pandas
    frame with the export's human-readable headers."""
    import pandas as pd

    rng = np.random.default_rng([seed, batch])
    n_orders = max(1, n_rows // 3)
    order = rng.integers(0, n_orders, n_rows)
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    day = np.datetime64("2024-11-01") + rng.integers(0, 30, n_orders)[order]
    created = day.astype("datetime64[s]") + rng.integers(0, 86_400, n_rows)
    fulfilled = rng.random(n_rows) < 0.7
    return pd.DataFrame(dict(zip(ORDER_HEADERS, (
        11_273_648_000_000 + batch * 1_000_000 + order,
        1000 + order,
        np.array(SHOPS)[order % len(SHOPS)],
        [
            f"U20{a}{b}{n:02d}-{m}U{k:03d}"
            for a, b, n, m, k in zip(
                rng.choice(letters, n_rows), rng.choice(letters, n_rows),
                rng.integers(0, 100, n_rows), rng.integers(0, 10, n_rows),
                rng.integers(0, 1000, n_rows),
            )
        ],
        [f"{PART_ADJ[a]} {PART_NOUN[b]} set" for a, b in rng.integers(0, 8, (n_rows, 2))],
        rng.integers(1, 6, n_rows),
        _money(rng, 5.0, 120.0, n_rows),
        _money(rng, 20.0, 400.0, n_orders)[order],
        rng.choice(("EUR", "USD"), n_rows),
        rng.choice(("paid", "refunded", "pending"), n_rows),
        np.where(fulfilled, "fulfilled", None),
        [f"customer{c}@example.com" for c in rng.integers(0, 5 * n_orders, n_rows)],
        rng.choice(("DE", "FR", "US"), n_rows),
        _money(rng, 0.0, 50.0, n_rows),
        _money(rng, 0.0, 30.0, n_rows),
        rng.integers(0, 2, n_rows),
        pd.to_datetime(day),
        pd.to_datetime(created),
        pd.Timestamp("2025-11-18 14:11:36") + pd.Timedelta(minutes=batch),
    ))))
