"""Seeded input generators for the benchmark.

Two families, both pure functions of ``seed``:

- the workshop-domain sales feed (stores, users, products and JSON-lines
  sales files with ``SaleItems`` as a JSON string), with planted
  recent-favoured re-sends, string-``ts`` drift rows, Custom items with
  empty ingredients, PENDING sales and Zipf-skewed customers.  Every
  landed row is also recorded in a :class:`Feed`, whose
  :meth:`Feed.truth` is the ground-truth manifest the checks compare to;
- TPC-H-shaped query tables (region … lineitem, events, documents,
  embeddings) with the column names and types the registry queries read.

Nothing here touches Spark, so generation stays outside every timed
interval.

    python3 perfbench/gen.py --seed 7 --out feed   # medallion_incremental's history + manifest.json
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import uuid
from dataclasses import dataclass, field

import numpy as np

STORES = [
    ("SYD01", "Sydney CBD", "AUS"), ("MEL01", "Melbourne CBD", "AUS"),
    ("MEL02", "Melbourne Docklands", "AUS"), ("BNE02", "Brisbane South", "AUS"),
    ("CBR01", "Canberra Civic", "AUS"), ("PER01", "Perth CBD", "AUS"),
    ("AKL01", "Auckland CBD", "NZL"), ("AKL02", "Auckland North", "NZL"),
    ("WLG01", "Wellington Central", "NZL"),
]
PRODUCTS = [
    ("Custom", "Build your own", 9.50), ("p01", "Green Machine", 8.90),
    ("p02", "Berry Blast", 7.50), ("p03", "Tropical Twist", 8.20),
    ("p04", "Mango Magic", 6.90), ("p05", "Citrus Zing", 7.10),
    ("p06", "Acai Bowl", 11.40), ("p07", "Protein Punch", 9.80),
    ("p08", "Kale Kick", 8.60), ("p09", "Cold Brew", 5.40),
    ("p10", "Matcha Latte", 6.30), ("p11", "Banana Bliss", 7.00),
]
INGREDIENTS = ["apple", "mint", "kale", "ginger", "banana", "oat", "chia", "lime"]
SIZES = ["S", "M", "L"]
USERS_PER_STORE = 300
HISTORY_START = int(dt.datetime(2021, 10, 1, tzinfo=dt.timezone.utc).timestamp())
HISTORY_END = int(dt.datetime(2022, 2, 1, tzinfo=dt.timezone.utc).timestamp())
#: sales in medallion_incremental's history (what the CLI writes)
HISTORY_SALES = 20_000
#: re-sends are drawn from the last RECENT_POOL sales landed: with the
#: history at least ten times larger, the updated sales are a small hot
#: tail of silver and the rest stays cold
RECENT_POOL = 1_000


def month_of(ts: int) -> str:
    return dt.datetime.fromtimestamp(ts, dt.timezone.utc).strftime("%Y-%m")


def ts_string(ts: int) -> str:
    """``from_unixtime(ts)`` in UTC — the drifted, string-typed ``ts``."""
    return dt.datetime.fromtimestamp(ts, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


@dataclass
class Feed:
    """Deterministic sales-feed generator plus its ground truth.

    ``latest`` holds the newest version of every sale landed so far (the
    expected silver row); ``planted`` counts every planted property over
    all landed rows."""

    seed: int
    rng: np.random.Generator = field(init=False)
    clock: int = HISTORY_START
    export_clock: int = HISTORY_END
    sales: list[dict] = field(default_factory=list)  # first versions, landing order
    latest: dict[str, dict] = field(default_factory=dict)
    planted: dict[str, int] = field(default_factory=lambda: {
        "rows": 0, "bytes": 0, "files": 0, "resends": 0, "drift_rows": 0,
    })

    def __post_init__(self):
        self.rng = np.random.default_rng(self.seed)

    # --------------------------------------------------------- dimensions
    def write_dims(self, out_dir: str) -> None:
        """stores.csv, users.csv, products.json."""
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, "stores.csv"), "w") as f:
            f.write("id,name,address\n")
            for sid, name, _ in STORES:
                f.write(f'{sid},{name},"{name} St, {sid[:3]}"\n')
        users = [
            (uid, sid, f"user {sid}-{uid}", f"u{uid}.{sid.lower()}@example.com")
            for sid, _, _ in STORES for uid in range(1, USERS_PER_STORE + 1)
        ]
        with open(os.path.join(out_dir, "users.csv"), "w") as f:
            f.write("id,store_id,name,email\n")
            f.writelines(f"{u[0]},{u[1]},{u[2]},{u[3]}\n" for u in users)
        with open(os.path.join(out_dir, "products.json"), "w") as f:
            for pid, name, price in PRODUCTS:
                f.write(json.dumps({"id": pid, "name": name, "price": price}) + "\n")

    # -------------------------------------------------------------- rows
    def _items(self) -> list[dict]:
        r = self.rng
        items = []
        for _ in range(int(r.integers(1, 5))):
            pid, _, price = PRODUCTS[int(r.integers(0, len(PRODUCTS)))]
            ingredients: list[str] = []
            if pid == "Custom":
                # ~15% of Custom items are planted with no ingredients
                k = 0 if r.random() < 0.15 else int(r.integers(1, 4))
                ingredients = sorted(r.choice(INGREDIENTS, size=k, replace=False).tolist())
            size = SIZES[int(r.integers(0, 3))]
            cost = round(price * (1.0, 1.25, 1.5)[SIZES.index(size)], 2)
            items.append({"id": pid, "size": size, "notes": "", "cost": cost,
                          "ingredients": ingredients})
        return items

    def _new_sale(self, ts: int) -> dict:
        r = self.rng
        location = STORES[int(r.integers(0, len(STORES)))][0]
        # Zipf-skewed customers per store; ~10% anonymous
        cust = None if r.random() < 0.10 else int(min(r.zipf(1.3), USERS_PER_STORE))
        state = "PENDING" if r.random() < 0.05 else "COMPLETED"
        exported = None if r.random() < 0.05 else ts + int(r.integers(60, 3600))
        return {
            "SaleID": str(uuid.UUID(bytes=r.bytes(16), version=4)),
            "ts": ts,
            "exported_ts": exported,
            "CustomerID": cust,
            "Location": location,
            "OrderSource": "ONLINE" if r.random() < 0.4 else "INSTORE",
            "PaymentMethod": ("CARD", "CASH", "APP")[int(r.integers(0, 3))],
            "STATE": state,
            "SaleItems": json.dumps(self._items()),
        }

    def _resend(self, sale: dict) -> dict:
        """A later export of ``sale``: newer ``exported_ts`` than every
        earlier version, and half the time a changed ``STATE``."""
        out = dict(self.latest[sale["SaleID"]])
        self.export_clock = max(self.export_clock, self.clock + 3600,
                                out["exported_ts"] or 0) + int(self.rng.integers(1, 120))
        out["exported_ts"] = self.export_clock
        if self.rng.random() < 0.5:
            out["STATE"] = "CANCELED" if out["STATE"] != "CANCELED" else "COMPLETED"
        return out

    def _recent_pick(self, n: int) -> list[dict]:
        """``n`` distinct sales from the last :data:`RECENT_POOL` landed,
        the more recent ones favoured (weight grows linearly with landing
        position)."""
        pool = self.sales[-RECENT_POOL:]
        if not pool:
            return []
        w = np.arange(1, len(pool) + 1, dtype=float)
        idx = self.rng.choice(len(pool), size=min(n, len(pool)), replace=False, p=w / w.sum())
        return [pool[i] for i in sorted(idx)]

    def batch(self, n_new: int, n_resend: int, drift_share: float,
              span_s: int) -> list[dict]:
        """One landing batch: ``n_new`` new sales spread over the next
        ``span_s`` seconds, ``n_resend`` re-sends, and a ``drift_share``
        of all rows with ``ts`` drifted to a string."""
        resends = [self._resend(s) for s in self._recent_pick(n_resend)]
        new = []
        for _ in range(n_new):
            self.clock += max(1, int(self.rng.exponential(span_s / max(n_new, 1))))
            new.append(self._new_sale(self.clock))
        self.sales.extend(new)
        for row in new + resends:
            self.latest[row["SaleID"]] = row
        rows = new + resends
        rows = [rows[i] for i in self.rng.permutation(len(rows))]
        self.planted["resends"] += len(resends)
        drift = self.rng.random(len(rows)) < drift_share
        out = []
        for row, d in zip(rows, drift):
            landed = dict(row)
            if d:
                landed["ts"] = ts_string(row["ts"])
            out.append(landed)
        return out

    def land(self, rows: list[dict], path: str) -> int:
        """Write ``rows`` as JSON lines at ``path``; return its size."""
        with open(path, "w") as f:
            for row in rows:
                f.write(json.dumps(row) + "\n")
        size = os.path.getsize(path)
        p = self.planted
        p["rows"] += len(rows)
        p["bytes"] += size
        p["files"] += 1
        p["drift_rows"] += sum(isinstance(r["ts"], str) for r in rows)
        return size

    def write_history(self, out_dir: str, n_sales: int, files_per_month: int = 2) -> list[str]:
        """The sales history ``sales_YYYYMM_<k>.json`` from Oct 2021 to
        Jan 2022 (re-sends and drift included), in landing order."""
        os.makedirs(out_dir, exist_ok=True)
        span = HISTORY_END - HISTORY_START
        n_batches = 4 * files_per_month
        paths = []
        for b in range(n_batches):
            month = month_of(self.clock + 1)
            rows = self.batch(n_sales // n_batches, n_resend=n_sales // n_batches // 20,
                              drift_share=0.02, span_s=span // n_batches)
            path = os.path.join(out_dir, f"sales_{month.replace('-', '')}_{b:02d}.json")
            self.land(rows, path)
            paths.append(path)
        return paths

    def truth(self) -> dict:
        """Ground-truth manifest over everything landed so far."""
        states: dict[str, int] = {}
        for row in self.latest.values():
            states[row["STATE"]] = states.get(row["STATE"], 0) + 1
        return {
            "seed": self.seed,
            "planted": dict(self.planted),
            "silver_rows": len(self.latest),
            "silver_states": dict(sorted(states.items())),
        }


# ------------------------------------------------------- query tables

NATIONS = 25
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
WORDS = ("the a data spark query table row column join hash scan filter sort group "
         "agg window stream batch merge key value order line part customer fast slow "
         "big small vector").split()


def write_query_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """TPC-H-shaped parquet tables at scale ``sf`` (lineitem ≈ 6M·sf
    rows); returns ``{table: rows}``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    r = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), int(50_000 * sf)

    def days(lo: str, n: int, size: int) -> np.ndarray:
        base = np.datetime64(lo, "D")
        return (base + r.integers(0, n, size)).astype("datetime64[us]")

    def money(lo: float, hi: float, size: int) -> np.ndarray:
        return np.round(r.uniform(lo, hi, size), 2)

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(NATIONS), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(NATIONS)],
            "n_regionkey": pa.array([i % 5 for i in range(NATIONS)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, NATIONS, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": r.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, NATIONS, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                r.choice(["blue", "old", "red", "small", "new", "hot", "large", "cold"], n_part),
                r.choice(["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"],
                         n_part))],
            "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
            "p_type": r.choice(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"],
                               n_part),
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n_ord),
            "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": days("1995-01-01", 2404, n_ord),
            "o_orderpriority": r.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": r.integers(0, n_ord, n_li),
            "l_partkey": r.integers(0, n_part, n_li),
            "l_suppkey": r.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
            "l_quantity": r.integers(1, 51, n_li).astype(float),
            "l_extendedprice": money(900, 105_000, n_li),
            "l_discount": r.integers(0, 11, n_li) / 100,
            "l_tax": r.integers(0, 9, n_li) / 100,
            "l_returnflag": r.choice(["A", "N", "R"], n_li),
            "l_linestatus": r.choice(["F", "O"], n_li),
            "l_shipdate": days("1995-01-02", 2498, n_li)}),
    }
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = r.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64)
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": t0 + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": r.integers(0, 150, n_ev),
        "event_type": r.choice(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": np.round(r.exponential(50, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and r.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(WORDS, int(r.integers(10, 100)))))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": r.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i}" for i in r.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = r.integers(0, 10, n_vec)
    centers = r.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.15 + r.normal(0, 1, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    feed = Feed(args.seed)
    feed.write_dims(args.out)
    feed.write_history(os.path.join(args.out, "landing"), HISTORY_SALES)
    with open(os.path.join(args.out, "manifest.json"), "w") as f:
        json.dump(feed.truth(), f, indent=1)


if __name__ == "__main__":
    main()
