"""Seeded input generators for the three workloads.

Every generator draws from ``numpy.random.default_rng`` seeded by the
caller, and writes plain parquet or JSON-lines files; the same seed and
size give byte-identical files. The package under test receives only
these files. Each generator returns the properties of what it wrote
(rows, distinct keys, duplicate shares, vocabulary), which the
benchmark prints with every run.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH = dt.datetime(1970, 1, 1)


def _write(table: pa.Table, path: str) -> None:
    # one row group, no pandas metadata: the bytes depend on the data only
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _dates_us(rng, n: int, start: dt.datetime, days: int) -> np.ndarray:
    base = int((start - _EPOCH).total_seconds()) * 1_000_000
    return base + rng.integers(0, days, n) * 86_400_000_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


# ----------------------------------------------------------- analytics

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def star_schema(out_dir: str, seed: int, sf: float) -> dict:
    """TPC-H-shaped tables plus the ``events`` series, with the schemas
    and value ranges of the package's test tables at scale ``sf``
    (lineitem ≈ 6M × sf rows, events = 1M × sf rows)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), f"{out_dir}/supplier.parquet")
    names = np.char.add(
        np.char.add(np.array(_PART_ADJ)[rng.integers(0, 8, n_part)], " "),
        np.array(_PART_NOUN)[rng.integers(0, 8, n_part)],
    )
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    }), f"{out_dir}/part.parquet")
    odate = _dates_us(rng, n_ord, dt.datetime(1995, 1, 1), 2404)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet")
    lok = rng.integers(0, n_ord, n_line)
    _write(pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(
            odate[lok] + rng.integers(1, 122, n_line) * 86_400_000_000,
            pa.timestamp("us"),
        ),
    }), f"{out_dir}/lineitem.parquet")
    ev_base = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds()) * 1_000_000
    ts = np.sort(ev_base + rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.gamma(2.0, 40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out_dir}/events.parquet")
    return {
        "sf": sf, "lineitem_rows": n_line, "orders_rows": n_ord,
        "customer_rows": n_cust, "events_rows": n_ev, "event_users": n_users,
    }


# ------------------------------------------------------------ curation

# The regime of the package's sf0.1 ``documents`` test table (5000
# documents), as measured from its rows: 10-100 words a document, drawn
# uniformly; 4.9% of the documents are an earlier document with the
# token "dup" appended (word 3-shingle Jaccard 0.89-0.99 to it), 0.16%
# are verbatim copies of one; ``lang`` is "en" for 41% of the documents
# and 14-15% each of the other four; ``source`` is doc_id mod 20.
#
# The vocabulary departs from it. The test table draws from 30 words,
# so every document's simhash lands near every other's and
# q_simhash_md5_pairs returns 1.9, 3.3 and 7.8 pairs per document at
# 500, 1000 and 2000 documents: its output grows as the square of the
# corpus. Here the vocabulary follows Heaps' law, V = 44 * tokens^0.49
# (the fit for Reuters-RCV1 in Manning, Raghavan and Schuetze,
# "Introduction to Information Retrieval", 2008, section 5.1.1), about
# 9000 words for 1000 documents, and pair outputs come only from the
# injected duplicates.
DOC_WORDS = (10, 100)
HEAPS_K, HEAPS_B = 44, 0.49
NEAR_DUP_TOKEN = "dup"
NEAR_DUP_SHARE, EXACT_DUP_SHARE = 0.049, 0.0016
LANGS, LANG_SHARES = ("en", "de", "es", "fr", "zh"), (0.41, 0.14, 0.15, 0.15, 0.15)
SOURCES = 20
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]


def vocabulary(size: int) -> list[str]:
    """``size`` distinct lower-case words of two or more syllables (an
    even number of letters, so none is ``NEAR_DUP_TOKEN``)."""
    s = len(_SYLLABLES)
    words = []
    for i in range(size):
        w, k = "", i + s
        while k:
            w, k = _SYLLABLES[k % s] + w, k // s
        words.append(w)
    return words


def vocab_size(n_docs: int) -> int:
    """Heaps' law for the corpus's expected token count."""
    return round(HEAPS_K * (n_docs * sum(DOC_WORDS) / 2) ** HEAPS_B)


def corpus(out_dir: str, seed: int, n_docs: int) -> dict:
    """One ``documents`` corpus version of ``n_docs`` documents in the
    regime above."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    words = np.array(vocabulary(vocab_size(n_docs)))
    texts: list[str] = []
    originals: list[int] = []
    kind = rng.random(n_docs)
    n_near = n_exact = 0
    for i in range(n_docs):
        if originals and kind[i] < EXACT_DUP_SHARE:
            texts.append(texts[originals[rng.integers(0, len(originals))]])
            n_exact += 1
        elif originals and kind[i] < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            texts.append(f"{texts[originals[rng.integers(0, len(originals))]]} {NEAR_DUP_TOKEN}")
            n_near += 1
        else:
            originals.append(i)
            n_words = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1)
            texts.append(" ".join(words[rng.integers(0, len(words), n_words)]))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_SHARES)],
        "source": np.char.add("src", (np.arange(n_docs) % SOURCES).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out_dir}/documents.parquet")
    return {
        "docs": n_docs, "vocab": len(words), "distinct_texts": len(set(texts)),
        "near_dup_share": round(n_near / n_docs, 4),
        "exact_dup_share": round(n_exact / n_docs, 4),
    }


# -------------------------------------------------------------- ingest

CHARTS = ["Bitcoin", "Ethereum", "Litecoin", "Ripple", "Solana"]
_CCY = {
    "USD": ("United States Dollar", 1.0),
    "GBP": ("British Pound Sterling", 0.82),
    "EUR": ("Euro", 0.94),
}
PAYLOAD_START = dt.datetime(2022, 12, 1)
FX_DAYS = 400
# Share of every drop that repeats earlier payloads. Not a measured
# rate (the reference crawler polls every 10 minutes, a feed that
# updates every minute, so it would see none): a setting that makes the
# sink's anti-join drop a fifth of the rows it is offered.
RESEND_SHARE = 0.2


def fx_rates(path: str, seed: int) -> dict:
    """USD→IDR rate for every day a payload can carry. Rates are
    multiples of 1/4, exact in binary, so ``usd × rate`` is reproducible."""
    rng = np.random.default_rng([seed, 3])
    dates = [PAYLOAD_START.date() + dt.timedelta(days=d) for d in range(FX_DAYS)]
    _write(pa.table({
        "from_ccy": ["USD"] * FX_DAYS,
        "to_ccy": ["IDR"] * FX_DAYS,
        "rate_date": pa.array(dates, pa.date32()),
        "rate": 15_000 + rng.integers(0, 4000, FX_DAYS) / 4,
    }), path)
    return {"fx_days": FX_DAYS}


def _rate_str(x: float) -> str:
    return f"{x:,.4f}"


class PayloadStream:
    """BPI payload drops, one JSON-lines file per cycle.

    Each chart advances one minute per fresh payload; ``RESEND_SHARE``
    of every drop repeats payloads already sent (a crawler's retries),
    so the warehouse must end with exactly the distinct
    ``(updatedISO, chartName)`` keys. ``sent`` maps each key to its USD
    rate for the output check."""

    def __init__(self, seed: int, per_cycle: int):
        self.rng = np.random.default_rng([seed, 4])
        self.per_cycle = per_cycle
        self.minute = 0
        self.lines: list[str] = []
        self.sent: dict[tuple[str, str], float] = {}
        self.offered = 0

    def _fresh(self, chart: str, minute: int) -> str:
        t = PAYLOAD_START + dt.timedelta(minutes=minute)
        usd = float(self.rng.uniform(1_000, 60_000))
        iso = t.strftime("%Y-%m-%dT%H:%M:%S+00:00")
        self.sent[(iso, chart)] = float(_rate_str(usd).replace(",", ""))
        return json.dumps({
            "time": {
                "updated": f"{t:%b} {t.day}, {t:%Y %H:%M:%S} UTC",
                "updatedISO": iso,
            },
            "disclaimer": f"This data was produced from the CoinDesk {chart} Price Index.",
            "chartName": chart,
            "bpi": {
                code: {"code": code, "rate": _rate_str(usd * f), "description": d}
                for code, (d, f) in _CCY.items()
            },
        })

    def next_drop(self, path: str) -> None:
        n_resend = int(self.per_cycle * RESEND_SHARE) if self.lines else 0
        out = [self.lines[i] for i in self.rng.integers(0, len(self.lines), n_resend)]
        fresh = []
        while len(out) + len(fresh) < self.per_cycle:
            for chart in CHARTS:
                fresh.append(self._fresh(chart, self.minute))
            self.minute += 1
        self.lines.extend(fresh)
        out.extend(fresh)
        self.offered += len(out)
        with open(path, "w") as fh:
            fh.write("\n".join(out) + "\n")

    def properties(self) -> dict:
        return {
            "payloads_offered": self.offered,
            "distinct_keys": len(self.sent),
            "resend_share": RESEND_SHARE,
            "charts": len(CHARTS),
        }
