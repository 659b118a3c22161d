"""Seeded input generators for the benchmark.

Everything the engine sees is produced here from the workload seed, with
NumPy and pyarrow only (no Spark), so the same seed writes byte-identical
files and a different seed writes different ones.

- ``write_corpus_tables``: the TPC-H-ish tables the declared corpus
  queries read (``region nation customer orders lineitem``), with the
  column names, types and value domains of the engine's test corpus.
- ``claims_batches``: landing-zone claim lines for the medallion
  pipeline, split into batches, with seeded DQ failures and duplicate
  resends.  The generator also returns the exact counts the pipeline must
  produce, computed here without the engine.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = np.int64(86_400_000_000)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, stream), so adding a stream
    never shifts the values of another."""
    return np.random.default_rng([seed, sum(ord(c) << (8 * i) for i, c in enumerate(stream))])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n_days: int, n: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(0, n_days, n) * _DAY_US


def corpus_tables(seed: int, n_orders: int) -> dict[str, pa.Table]:
    """The five corpus tables at ``n_orders`` orders (sf0.01 has 15,000)."""
    n_cust = max(10, n_orders // 10)
    r = _rng(seed, "customer")
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(_SEGMENTS[r.integers(0, 5, n_cust)]),
        }
    )
    r = _rng(seed, "orders")
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, n_cust, n_orders).astype(np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n_orders)]),
            "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_orders)),
            "o_orderdate": pa.array(_days(r, 2400, n_orders)),
            "o_orderpriority": pa.array(_PRIORITIES[r.integers(0, 5, n_orders)]),
        }
    )
    r = _rng(seed, "lineitem")
    per_order = r.integers(1, 8, n_orders)
    n_li = int(per_order.sum())
    linenumber = np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(n_orders, dtype=np.int64), per_order)),
            "l_partkey": pa.array(r.integers(0, max(1, n_orders // 7), n_li).astype(np.int64)),
            "l_suppkey": pa.array(r.integers(0, max(1, n_orders // 150), n_li).astype(np.int64)),
            "l_linenumber": pa.array(linenumber),
            "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n_li)]),
            "l_shipdate": pa.array(_days(r, 2500, n_li) + _DAY_US),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(_REGIONS),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
    }


def write_corpus_tables(seed: int, n_orders: int, out_dir: str) -> None:
    """Write ``<name>.parquet`` per table (the layout ``sources.catalog``
    reads)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in corpus_tables(seed, n_orders).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# --- medallion claims --------------------------------------------------------

CLAIM_COLUMNS = (
    "claim_id", "member_id", "provider_id", "service_date", "received_date",
    "procedure_code", "diagnosis_code", "billed_amount", "allowed_amount",
    "paid_amount", "claim_line_number", "place_of_service", "claim_type",
)
N_MEMBERS = 400
N_PROVIDERS = 60


@dataclass
class ClaimsPlan:
    """Landing batches plus the counts the pipeline must reproduce."""

    batches: list[list[tuple]]
    # per batch: lines failing a DQ rule, and passing lines left after the
    # within-batch dedup to one row per (claim_id, claim_line_number)
    expected_fail: list[int] = field(default_factory=list)
    expected_pass: list[int] = field(default_factory=list)
    # distinct passing keys over all batches (= silver rows = fact rows)
    expected_keys: int = 0
    # billed total over the latest passing version of each key
    expected_billed_cents: int = 0


def claims_batches(seed: int, n_claims: int, n_batches: int) -> ClaimsPlan:
    """``n_claims`` claim lines plus ~10% duplicate resends, dealt into
    ``n_batches`` landing batches by a seeded hash.

    About 1 line in 12 fails exactly one DQ rule (missing member, invalid
    procedure code, non-positive billed amount, service after received).
    A resend repeats a line with a later received date and a new paid
    amount, in the same batch or a later one, so the silver dedup and the
    MERGE both see it.  Dates lie in 2023-2024, so R2 (service date not in
    the future) holds for every clean line.
    """
    r = _rng(seed, "claims")
    base = dt.date(2023, 1, 1)
    lines: list[tuple] = []
    fails: list[bool] = []
    keys: list[tuple[str, str]] = []
    batch_of: list[int] = []
    for i in range(n_claims):
        claim_id = f"C{seed % 1000:03d}{i:07d}"
        line_no = str(1 + int(r.integers(0, 3)))
        service = base + dt.timedelta(days=int(r.integers(0, 600)))
        received = service + dt.timedelta(days=int(r.integers(0, 30)))
        billed = float(_money(r, 5.0, 900.0, 1)[0])
        member = f"M{int(r.integers(1, N_MEMBERS + 1))}"
        proc = f"{int(r.integers(0, 100000)):05d}"
        defect = int(r.integers(0, 48))
        if defect == 0:
            member = ""
        elif defect == 1:
            proc = f"bad{int(r.integers(0, 1000))}"
        elif defect == 2:
            billed = -billed
        elif defect == 3:
            # early enough that the resend's +5 days still fails R3
            received = service - dt.timedelta(days=6 + int(r.integers(0, 10)))
        row = [
            claim_id, member, f"P{int(r.integers(0, N_PROVIDERS))}",
            service.isoformat(), received.isoformat(), proc, "D100",
            f"{billed:.2f}", f"{billed * 0.9:.2f}", f"{billed * 0.8:.2f}",
            line_no, "11", "RX",
        ]
        batch = int(r.integers(0, n_batches))
        lines.append(tuple(row))
        fails.append(defect <= 3)
        keys.append((claim_id, line_no))
        batch_of.append(batch)
        if r.integers(0, 10) == 0:  # duplicate resend, same or later batch
            resend = list(row)
            resend[4] = (received + dt.timedelta(days=5)).isoformat()
            resend[9] = f"{billed * 0.7:.2f}"
            lines.append(tuple(resend))
            fails.append(defect <= 3)
            keys.append((claim_id, line_no))
            batch_of.append(int(r.integers(batch, n_batches)))

    plan = ClaimsPlan(batches=[[] for _ in range(n_batches)])
    latest: dict[tuple[str, str], int] = {}
    for b in range(n_batches):
        passed_keys: set[tuple[str, str]] = set()
        n_fail = 0
        for idx, (line, failed, key, bb) in enumerate(zip(lines, fails, keys, batch_of)):
            if bb != b:
                continue
            plan.batches[b].append(line)
            if failed:
                n_fail += 1
                continue
            passed_keys.add(key)
            prev = latest.get(key)
            # the pipeline keeps the latest received date (resends are
            # later); ties cannot occur because a resend adds 5 days
            if prev is None or line[4] > lines[prev][4]:
                latest[key] = idx
        plan.expected_fail.append(n_fail)
        plan.expected_pass.append(len(passed_keys))
    plan.expected_keys = len(latest)
    plan.expected_billed_cents = sum(
        round(float(lines[i][7]) * 100) for i in latest.values()
    )
    return plan


def write_claims_csv(rows: list[tuple], path: str) -> None:
    """One landing CSV with a header row (the bronze reader's shape)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(CLAIM_COLUMNS)
        w.writerows(rows)


def reference_rows(seed: int) -> tuple[list[tuple], list[tuple]]:
    """Members and providers for the gold dims.  Every generated member
    and provider id resolves, so fact rows carry both surrogate keys."""
    r = _rng(seed, "reference")
    members = [
        (f"M{i}", f"fn{i}", f"ln{i}",
         (dt.date(1950, 1, 1) + dt.timedelta(days=int(r.integers(0, 20000)))).isoformat(),
         "F" if r.integers(0, 2) else "M", f"{int(r.integers(10000, 99999))}",
         ("PPO", "HMO", "EPO")[int(r.integers(0, 3))])
        for i in range(1, N_MEMBERS + 1)
    ]
    providers = [
        (f"P{i}", f"prov{i}", f"{1000000000 + i}", "Pharmacy",
         ("Retail", "Mail")[int(r.integers(0, 2))], "NY", "IN")
        for i in range(N_PROVIDERS)
    ]
    return members, providers
