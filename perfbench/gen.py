"""Seeded input generators for the benchmark.

``make_embeddings`` writes the one table the ``iterative`` item reads,
the same every run.  ``make_flow_inputs`` writes the
``orders``/``customers``/``products`` CSVs that the example flows in
``examples/config.yaml`` read; the same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

COUNTRIES = [
    "USA", "UK", "France", "Canada", "Germany", "Spain", "Italy", "Japan",
    "Brazil", "India", "Mexico", "Norway", "Poland", "Chile", "Kenya",
    "Egypt", "Peru", "Greece", "Ireland", "Portugal",
]
CITIES = ["North", "South", "East", "West", "Central", "Harbor", "Hill", "Lake"]
CATEGORIES = ["Electronics", "Furniture", "Stationery"]
PRODUCT_WORDS = [
    "Laptop", "Mouse", "Keyboard", "Chair", "Desk", "Pen", "Notebook",
    "Lamp", "Monitor", "Cable", "Shelf", "Stapler", "Folder", "Speaker",
]

_DAY_US = 86_400 * 1_000_000


def _days_us(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    """``n`` midnight timestamps (µs since epoch), uniform over [lo, hi]."""
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(a, b + 1, n, dtype=np.int64) * _DAY_US


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


EMBEDDINGS_SEED = 0  # the iterative inputs are fixed; only the flows' follow --seed


def make_embeddings(out_dir: str, n: int = 500, dim: int = 64) -> int:
    """Write ``embeddings.parquet`` in the shape of the test data's table
    at sf0.01: ``vec_id`` 0..n-1, a unit-norm float32 ``embedding`` of
    ``dim`` values and a ``label`` in 0..9.  The vectors are uniform
    random directions, as the test data's are (its per-label means are
    no further from zero than sampling noise).  Return the row count."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(EMBEDDINGS_SEED)
    vecs = rng.normal(0.0, 1.0, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), dim).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    }), os.path.join(out_dir, "embeddings.parquet"))
    return n


def make_flow_inputs(out_dir: str, n_orders: int, n_customers: int,
                     n_products: int, seed: int) -> dict[str, int]:
    """Write ``orders.csv``, ``customers.csv`` and ``products.csv`` in the
    shape of ``examples/input_folder``; return the counts each flow's
    output must have.  Order ids start at 101, so the ``refresh_audit``
    flow's edits (drop order 103, set order 105's quantity to 999) always
    hit one row each; quantities stay in 1..10, so the edit is a change."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])

    countries = rng.choice(COUNTRIES, n_customers)
    with open(os.path.join(out_dir, "customers.csv"), "w") as fh:
        fh.write("customer_id,customer_name,city,country,signup_date\n")
        cities = rng.choice(CITIES, n_customers)
        signup = _days_us(rng, "2020-01-01", "2023-12-31", n_customers) // _DAY_US
        for i in range(n_customers):
            day = np.datetime64(int(signup[i]), "D")
            fh.write(f"{i + 1},Customer {i + 1},{cities[i]} {countries[i]},"
                     f"{countries[i]},{day}\n")

    names = [f"{PRODUCT_WORDS[i % len(PRODUCT_WORDS)]} {i}" for i in range(n_products)]
    costs = _money(rng, 1.0, 900.0, n_products)
    with open(os.path.join(out_dir, "products.csv"), "w") as fh:
        fh.write("product_name,category,cost_price\n")
        cats = rng.choice(CATEGORIES, n_products)
        for name, cat, cost in zip(names, cats, costs):
            fh.write(f"{name},{cat},{cost:.2f}\n")

    cust = rng.integers(1, n_customers + 1, n_orders)
    prod = rng.integers(0, n_products, n_orders)
    qty = rng.integers(1, 11, n_orders)
    markup = rng.integers(100, 151, n_orders) / 100.0
    days = _days_us(rng, "2024-01-01", "2024-12-31", n_orders) // _DAY_US
    with open(os.path.join(out_dir, "orders.csv"), "w") as fh:
        fh.write("order_id,customer_id,order_date,product_name,quantity,unit_price\n")
        for i in range(n_orders):
            price = round(costs[prod[i]] * markup[i], 2)
            day = np.datetime64(int(days[i]), "D")
            fh.write(f"{101 + i},{cust[i]},{day},{names[prod[i]]},{qty[i]},${price:.2f}\n")

    return {
        "orders": n_orders,
        "customers": n_customers,
        "products": n_products,
        "countries": len(set(countries[cust - 1])),
    }
