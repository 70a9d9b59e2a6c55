"""Seeded input generators for the benchmark workloads.

Every input the engine sees is made here from the run's seed: the same
seed gives byte-identical tables. Generators return pyarrow tables (the
benchmark writes them as Parquet "source" files the engine then reads)
plus the ledgers the correctness checks compare against.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

# -- repo_sync: crsp.dsf / comp.funda shaped sources -------------------------

DSF_BASE_DATE = dt.date(2015, 1, 2)
#: a key (permno, date) is encoded as one int64: permno * KEY_SPAN + day
KEY_SPAN = 100_000
NEW_PERMNO_BASE = 90_000
#: share of the live keys each CDC batch touches
CDC_FRAC = 0.01


def _scaled(ints: np.ndarray, scale: int, precision: int) -> pa.Array:
    """decimal(precision, scale) column holding ``ints`` × 10^-scale,
    built from the 128-bit two's-complement unscaled values directly."""
    words = np.empty((len(ints), 2), np.int64)
    words[:, 0] = ints
    words[:, 1] = np.asarray(ints, np.int64) >> 63
    return pa.Array.from_buffers(pa.decimal128(precision, scale), len(ints),
                                 [None, pa.py_buffer(words)])


def dsf_rows(rng: np.random.Generator, permno: np.ndarray,
             day: np.ndarray) -> pa.Table:
    """Daily-stock-file rows for the given keys: ints, a date, a
    decimal(18,6) return, doubles, a nullable string and a timestamp."""
    n = len(permno)
    ret = rng.normal(0.0, 0.02, n)
    prc = np.round(rng.lognormal(3.0, 0.8, n), 4)
    vol = np.round(rng.lognormal(10.0, 1.5, n))
    shrout = rng.integers(1_000, 5_000_000, n)
    tickers = np.array([f"T{i:04d}" for i in range(4000)])
    ticker = tickers[permno % 4000]
    ticker_null = rng.random(n) < 0.1
    dates = np.datetime64(DSF_BASE_DATE) + day.astype("timedelta64[D]")
    stamp = dates.astype("datetime64[us]") + \
        rng.integers(0, 86_400_000_000, n).astype("timedelta64[us]")
    return pa.table({
        "permno": pa.array(permno, pa.int32()),
        "date": pa.array(dates, pa.date32()),
        "ret": _scaled(np.round(ret * 1e6).astype(np.int64), 6, 18),
        "prc": pa.array(prc, pa.float64()),
        "vol": pa.array(vol, pa.float64()),
        "shrout": pa.array(shrout, pa.int64()),
        "ticker": pa.array(ticker, pa.string(), mask=ticker_null),
        "updated_at": pa.array(stamp, pa.timestamp("us")),
    })


def dsf(seed: int, n_firms: int, n_days: int) -> pa.Table:
    """The ``dsf`` source: every (permno, day) of ``n_firms`` × ``n_days``."""
    rng = np.random.default_rng([seed, 1])
    permno = np.repeat(np.arange(10_000, 10_000 + n_firms), n_days)
    day = np.tile(np.arange(n_days), n_firms)
    return dsf_rows(rng, permno, day)


def dsf_keys(table: pa.Table) -> set[int]:
    permno = table["permno"].to_numpy().astype(np.int64)
    day = (table["date"].to_numpy().astype("datetime64[D]")
           - np.datetime64(DSF_BASE_DATE)).astype(np.int64)
    return set((permno * KEY_SPAN + day).tolist())


FUNDA_DOUBLES = ("act at ceq che cogs csho dltt dp ebit ebitda emp ib invt "
                 "lct lt ni oancf ppent prcc_f re rect sale seq xsga").split()
FUNDA_INTS = "sich naicsh fyr ipodate_y exchg stko".split()
FUNDA_DECIMALS = "dvc dvt capx".split()


def funda(seed: int, n: int) -> pa.Table:
    """The ``funda`` source: ~40 mixed columns (ids, strings, dates, 24
    nullable doubles, ints, decimal(18,4) and a timestamp)."""
    rng = np.random.default_rng([seed, 2])
    cols: dict[str, pa.Array] = {
        "gvkey": pa.array(np.arange(100_000, 100_000 + n), pa.int64()),
        "fyear": pa.array(rng.integers(2000, 2024, n), pa.int32()),
        "datadate": pa.array(np.datetime64("2000-12-31")
                             + rng.integers(0, 8_400, n).astype("timedelta64[D]"),
                             pa.date32()),
        "indfmt": pa.array(np.where(rng.random(n) < 0.8, "INDL", "FS")),
        "consol": pa.array(np.full(n, "C")),
        "popsrc": pa.array(np.where(rng.random(n) < 0.9, "D", "I")),
        "datafmt": pa.array(np.full(n, "STD")),
        "curcd": pa.array(np.where(rng.random(n) < 0.85, "USD", "CAD")),
        "conm": pa.array([f"COMPANY {i % 9973} INC" for i in range(n)]),
        "tic": pa.array([f"C{i % 9973:04d}" for i in range(n)],
                        mask=rng.random(n) < 0.05),
    }
    for name in FUNDA_DOUBLES:
        cols[name] = pa.array(np.round(rng.lognormal(5.0, 2.0, n), 3),
                              pa.float64(), mask=rng.random(n) < 0.1)
    for name in FUNDA_INTS:
        cols[name] = pa.array(rng.integers(0, 10_000, n), pa.int32())
    for name in FUNDA_DECIMALS:
        cols[name] = _scaled(rng.integers(0, 10**9, n), 4, 18)
    cols["upd_ts"] = pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                              + rng.integers(0, 10**13, n).astype("timedelta64[us]"),
                              pa.timestamp("us"))
    return pa.table(cols)


class CdcLedger:
    """The live key set of the merge target, advanced batch by batch.

    Each batch touches ``CDC_FRAC`` of the live keys: 60 % updates of
    existing keys, 20 % inserts of new keys and 20 % deletes of existing
    keys, all distinct, so the merged table's row count is known.
    """

    def __init__(self, seed: int, keys: set[int]):
        self.seed = seed
        self.live = set(keys)
        self._next_new = 0

    def batch(self, round_no: int):
        """The round's CDC batch and a function that applies it to the
        ledger once the engine has merged it."""
        rng = np.random.default_rng([self.seed, 3, round_no])
        size = max(10, int(len(self.live) * CDC_FRAC))
        n_upd, n_ins = int(size * 0.6), int(size * 0.2)
        n_del = size - n_upd - n_ins
        live = np.fromiter(sorted(self.live), np.int64, len(self.live))
        picked = rng.choice(live, n_upd + n_del, replace=False)
        upd, dele = picked[:n_upd], picked[n_upd:]
        new_idx = np.arange(self._next_new, self._next_new + n_ins)
        next_new = self._next_new + n_ins
        ins = (NEW_PERMNO_BASE + new_idx // 1000) * KEY_SPAN + new_idx % 1000
        keys = np.concatenate([upd, ins, dele])
        rows = dsf_rows(rng, (keys // KEY_SPAN).astype(np.int64),
                        keys % KEY_SPAN)
        deleted = np.zeros(len(keys), bool)
        deleted[n_upd + n_ins:] = True

        def apply():
            self._next_new = next_new
            self.live.difference_update(dele.tolist())
            self.live.update(ins.tolist())

        return rows.append_column("_deleted", pa.array(deleted)), apply


def freshness_comment(day: int) -> str:
    """A WRDS-style table comment dated ``day`` days after a base date;
    the sync kernel compares at date granularity, so a later day is a
    newer source."""
    stamp = dt.datetime(2024, 1, 1, 6, 30, 0) + dt.timedelta(days=day)
    return f"Last modified: {stamp:%m/%d/%Y %H:%M:%S}"


# -- TPC-H-shaped tables for the registry queries ---------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
           ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
           ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
           ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
           ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
           ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
           ("UNITED KINGDOM", 3), ("UNITED STATES", 1)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _pick(rng, options, n):
    return np.asarray(options, dtype=object)[rng.integers(0, len(options), n)]


def tpch(seed: int, n_orders: int) -> dict[str, pa.Table]:
    """``region``, ``nation``, ``customer``, ``supplier``, ``orders`` and
    ``lineitem`` with the fixture schemas the registry queries read
    (``lineitem`` ≈ 4 × ``n_orders`` rows)."""
    rng = np.random.default_rng([seed, 4])
    n_cust = max(50, n_orders // 10)
    n_supp = max(20, n_orders // 200)
    n_part = max(50, n_orders // 10)
    us = "datetime64[us]"
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [nm for nm, _ in NATIONS],
            "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), pa.string())}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
    }
    okey = np.arange(1, n_orders + 1) * 4  # sparse keys, as in TPC-H
    odate = (np.datetime64("1992-01-01") + rng.integers(0, 2_405, n_orders)
             .astype("timedelta64[D]")).astype(us)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(okey, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_orders), pa.int64()),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_orders),
                                  pa.string()),
        "o_totalprice": np.round(rng.uniform(800, 500_000, n_orders), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_orders),
                                    pa.string())})
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_orders), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2000, n_li) / 10, 2)
    ship = odate[l_order] + rng.integers(1, 122, n_li).astype("timedelta64[D]") \
        .astype("timedelta64[us]")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey[l_order], pa.int64()),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": pa.array(_pick(rng, ["R", "A", "N"], n_li), pa.string()),
        "l_linestatus": pa.array(_pick(rng, ["O", "F"], n_li), pa.string()),
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})
    return out


# -- corpus_dedup: shards with planted duplicates ----------------------------

EN_STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for")
#: per-shard plant rates (see :class:`Corpus`)
SHORT_RATE, EXACT_RATE, NEAR_RATE = 0.1, 0.05, 0.05
#: least word-3-shingle Jaccard of a planted near copy
MIN_JACCARD = 0.72
#: the Gopher stop-word rule's minimum (``operators.filtering.gopher_rules``)
GOPHER_MIN_STOPWORDS = 2


def _shingles(words: list[str], n: int = 3) -> set[tuple[str, ...]]:
    return {tuple(words[i:i + n]) for i in range(len(words) - n + 1)}


def jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


class Corpus:
    """Seeded document shards with a planted-duplicate ledger.

    Per shard: ``SHORT_RATE`` of the documents are too short for the
    Gopher word-count rule; ``EXACT_RATE`` are exact copies (case and
    whitespace varied, so only the normalized form matches) of a passing
    document; ``NEAR_RATE`` are near copies of a passing document with
    scattered word substitutions, at a word-3-shingle Jaccard between
    ``MIN_JACCARD`` and 0.95 computed here. Those rates drive how many
    candidate pairs LSH produces. A rare long document drawn with fewer
    than ``GOPHER_MIN_STOPWORDS`` stop words fails Gopher's stop-word
    rule; it is left out of the pass ledger and never copied.
    """

    def __init__(self, seed: int, shards: int, docs_per_shard: int):
        rng = np.random.default_rng([seed, 5])
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab = sorted({"".join(rng.choice(letters, k))
                        for k in rng.integers(3, 9, 6_000)})
        self.vocab = [w for w in vocab if w not in EN_STOPWORDS]
        self.shards: list[pa.Table] = []
        self.passing: list[set[int]] = []
        self.exact_copies: list[int] = []
        self.near_pairs: list[set[tuple[int, int]]] = []
        next_id = 0
        for s in range(shards):
            srng = np.random.default_rng([seed, 6, s])
            n_exact = int(docs_per_shard * EXACT_RATE)
            n_near = int(docs_per_shard * NEAR_RATE)
            n_base = docs_per_shard - n_exact - n_near
            texts: list[str] = []
            words_of: list[list[str]] = []
            passing: list[int] = []
            for i in range(n_base):
                short = srng.random() < SHORT_RATE
                n_words = int(srng.integers(20, 45) if short
                              else srng.integers(60, 200))
                w = self._words(srng, n_words)
                words_of.append(w)
                texts.append(" ".join(w))
                if not short and sum(x in EN_STOPWORDS for x in w) \
                        >= GOPHER_MIN_STOPWORDS:
                    passing.append(i)
            near = set()
            for _ in range(n_exact):
                src = passing[int(srng.integers(0, len(passing)))]
                w = words_of[src]
                texts.append("  ".join([w[0].upper(), *w[1:]]) + " ")
                words_of.append(w)
            for _ in range(n_near):
                src = passing[int(srng.integers(0, len(passing)))]
                w = self._near_copy(srng, words_of[src])
                near.add((next_id + src, next_id + len(texts)))
                words_of.append(w)
                texts.append(" ".join(w))
            ids = np.arange(next_id, next_id + len(texts))
            self.shards.append(pa.table({
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * len(texts)),
                "source": pa.array([f"src{s}"] * len(texts)),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }))
            self.passing.append(
                {next_id + i for i in passing}
                | set(range(next_id + n_base, next_id + len(texts))))
            self.exact_copies.append(n_exact)
            self.near_pairs.append(near)
            next_id += len(texts)

    def _words(self, rng, n: int) -> list[str]:
        """``n`` words, 15 % of them English stopwords."""
        stop = rng.random(n) < 0.15
        si = rng.integers(0, len(EN_STOPWORDS), n)
        vi = rng.integers(0, len(self.vocab), n)
        return [EN_STOPWORDS[s] if is_stop else self.vocab[v]
                for is_stop, s, v in zip(stop.tolist(), si.tolist(), vi.tolist())]

    def _near_copy(self, rng, words: list[str]) -> list[str]:
        target = rng.uniform(MIN_JACCARD + 0.02, 0.95)
        n_sub = max(1, int(len(words) * (1 - target) / (1 + target) / 3 * 2))
        while True:
            w = list(words)
            for pos in rng.choice(len(w), n_sub, replace=False):
                if w[pos] not in EN_STOPWORDS:
                    w[pos] = self.vocab[int(rng.integers(0, len(self.vocab)))]
            j = jaccard(words, w)
            if MIN_JACCARD <= j < 1.0:
                return w
            n_sub = max(1, n_sub - 1) if j < MIN_JACCARD else n_sub + 1
