"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same bytes. Nothing imports Spark, so inputs are made before any session
starts and are never part of a timing.

* ``write_tables``: the ten testbed tables (TPC-H-style star schema plus
  ``events``, ``documents`` and ``embeddings``) with the column names,
  types and value shapes of the engine's sf0.1 testbed, at a chosen scale.
* ``write_roster``: a header-displaced participants CSV with the
  FIXTURES.md section 1 dirty-data mix, and a receipts ledger that covers
  about half of the valid rows' emails.
* ``write_drop``: one file of a roster drop directory for ``send-stream``.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["hot", "old", "red", "small", "new", "large", "cold", "blue"]
PART_NOUN = ["bolt", "plate", "gear", "ring", "rod", "anvil", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def table_rows(sf: float) -> dict[str, int]:
    """Row counts per table at scale ``sf`` (testbed ratios)."""
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random texts over a small vocabulary; 5% are near-duplicates (another
    document's text plus " dup", sometimes of a near-duplicate itself, and
    as often before as after the original in id order) and 0.16% exact
    copies, the testbed's shares."""
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    near, exact = round(n * 0.05), round(n * 0.0016)
    targets = rng.permutation(n)[: near + exact]
    sources = rng.choice(n, near + exact, replace=False)
    for k, (i, j) in enumerate(zip(targets, sources)):
        j = j if j != i else (j + 1) % n
        texts[i] = texts[j] + (" dup" if k < near else "")
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(0, 1, (10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] * 0.6 + rng.normal(0, 1, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n = table_rows(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), pa.float64()),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), pa.string()),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), pa.float64()),
        }
    )
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": pa.array(rng.choice(names, npart), pa.string()),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()
            ),
            "p_type": pa.array(rng.choice(PART_TYPES, npart), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900 + (np.arange(npart) % 1000) / 10, 1), pa.float64()
            ),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, no), pa.float64()),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, no) * _DAY_US),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), pa.string()),
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": pa.array(qty, pa.float64()),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, nl), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100, pa.float64()),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl), pa.string()),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, nl) * _DAY_US),
        }
    )
    ne = n["events"]
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, max(1, ne * 3 // 200), ne), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, ne), pa.string()),
            "value": pa.array(np.round(rng.exponential(50, ne), 2), pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()
            ),
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write ``<out_dir>/<table>.parquet`` for every testbed table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# --------------------------------------------------------------------------
# Roster (FIXTURES.md section 1) and the receipts ledger
# --------------------------------------------------------------------------

HEADER = [
    "Rut (con punto y con guión)",
    "Nombres ",
    "Apellidos",
    "Correo electrónico",
    "ExtraCol1",
    "ExtraCol2",
]
JUNK = [
    ["Listado de participantes", "", "", "", "", ""],
    ["", "", "", "", "", "generado"],
    ["Curso", "SPARK-101", "", "", "", ""],
]
FIRST_ASCII = ["ana", "pedro", "camila", "diego", "valentina", "tomas", "isabel"]
FIRST_ACCENT = ["maría", "josé", "sofía", "martín", "lucía", "ramón", "iñaki",
                "joaquín", "agustín", "inés", "zoë", "ángela"]
LAST_ASCII = ["soto", "diaz", "rojas", "munoz", "silva", "vera", "fuentes"]
LAST_ACCENT = ["pérez", "gonzález", "núñez", "o'higgins", "ibáñez", "d'acosta",
               "gutiérrez", "peña", "müller", "san martín"]
DOMAINS = ["uni.cl", "correo.cl", "mail.example.com", "alumnos.edu"]

#: FIXTURES.md section 1 shares (lower bounds there; exact rates here).
SHARE_NULL_RUT = 0.10
SHARE_NULL_NOMBRES = 0.10
SHARE_ACCENTED = 0.25
SHARE_MULTI_EMAIL = 0.12
SHARE_SINGLE_SURNAME = 0.08


@dataclass(frozen=True)
class Roster:
    path: str
    ledger_path: str
    valid_rows: int
    ledger_emails: int


def write_roster(out_dir: str, seed: int, rows: int) -> Roster:
    """Participants CSV: 3 junk rows, the real header at row 3, ``rows``
    data rows; plus ``ledger.csv``, prior SENT receipts for about half of
    the valid rows' emails. Every random draw is vectorised, so 200k rows
    take about a second."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    u = rng.random((8, rows))
    accented = u[0] < SHARE_ACCENTED
    first = np.where(
        accented,
        rng.choice(FIRST_ACCENT, rows),
        rng.choice(FIRST_ASCII, rows),
    ).astype(object)
    second = rng.choice(FIRST_ACCENT + FIRST_ASCII, rows)
    first = np.where(u[1] < 0.3, first + " " + second, first)
    first = np.where(u[2] < 0.2, np.char.upper(first.astype(str)), first)
    last1 = np.where(
        accented, rng.choice(LAST_ACCENT, rows), rng.choice(LAST_ASCII, rows)
    ).astype(object)
    last2 = rng.choice(LAST_ASCII + LAST_ACCENT, rows)
    apellidos = np.where(
        u[3] < SHARE_SINGLE_SURNAME, last1, last1 + " " + last2
    )
    null_rut = u[4] < SHARE_NULL_RUT
    null_nombres = u[5] < SHARE_NULL_NOMBRES
    in_ledger = u[7] < 0.5
    path = os.path.join(out_dir, "participants.csv")
    ledger_path = os.path.join(out_dir, "ledger.csv")
    seps = [", ", "; ", " ", ";"]
    valid, ledger = 0, []
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerows(JUNK)
        w.writerow(HEADER)
        for i in range(rows):
            email = (
                f"u{i}.{FIRST_ASCII[i % len(FIRST_ASCII)]}"
                f"@{DOMAINS[i % len(DOMAINS)]}"
            )
            d = 1_000_000 + i
            rut = f"{d // 1_000_000}.{d // 1000 % 1000:03d}.{d % 1000:03d}-{i % 10}"
            if i % 10 == 3:
                rut = f" {rut} "  # surrounding spaces, trimmed by normalize
            r = u[6, i]
            if r < SHARE_MULTI_EMAIL:
                cell = f"{email}{seps[i % 4]}alt{i}@backup.example.com"
            elif r < SHARE_MULTI_EMAIL + 0.05:
                cell = f"  {email} "
            else:
                cell = email
            nombres = "" if null_nombres[i] else first[i]
            if null_rut[i]:
                rut = ""
            w.writerow([rut, nombres, apellidos[i], cell, f"x{i}", ""])
            if rut and nombres:
                valid += 1
                if in_ledger[i]:
                    ledger.append(email)
    with open(ledger_path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["idx", "email", "status", "attempts", "error", "remaining"])
        for k, email in enumerate(ledger, 1):
            w.writerow([k, email, "SENT", 1, "", len(ledger) - k])
    return Roster(path, ledger_path, valid, len(ledger))


def write_drop(drop_dir: str, seed: int, index: int, rows: int) -> str:
    """File ``index`` of a roster drop dir (old-variant recipients CSV).
    Files overlap: a fifth of each file repeats emails of the previous
    file, so the stream's dedup and ledger both have work."""
    os.makedirs(drop_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3, index])
    path = os.path.join(drop_dir, f"roster_{index:03d}.csv")
    tmp = os.path.join(drop_dir, f".roster_{index:03d}.tmp")
    with open(tmp, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["email", "nombre", "usuario", "contrasena"])
        for k in range(rows):
            j = index * rows + k
            if index > 0 and k < rows // 5:
                j -= rows  # repeat of the previous file
            nombre = str(rng.choice(FIRST_ACCENT + FIRST_ASCII)).title()
            w.writerow([f"s{j}@{DOMAINS[j % len(DOMAINS)]}", nombre, f"s{j}",
                        f"pw{j}"])
    os.replace(tmp, path)  # the stream must never see a half-written file
    return path
