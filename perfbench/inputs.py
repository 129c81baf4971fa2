"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed (and the batch number), so
the same seed gives byte-identical inputs. The package under test only ever
sees what these functions write to disk.

Two families:

* ``LedgerGen`` - raw RPC fetch rows in the package's ``RAW_FETCH_SCHEMA``
  shape (``wallet_address``, ``signature``, ``response_json``, ``chain``),
  plus the closed-form silver/quarantine expectations the checks compare
  against. Wallet popularity is Zipf-skewed, a share of transactions carry
  SPL token balances (one transaction fans out into several ledger
  entries), a share of every batch after the first replays rows of earlier
  batches, and a share of fresh rows carry an unparseable response body.
* ``write_catalog_tables`` - the ten star-schema / corpus tables the
  headline catalog queries read, shaped like the package's test data.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass
from decimal import Decimal

NIL_UUID = "00000000-0000-0000-0000-000000000000"
_B58 = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
_MINTS_N = 8
MALFORMED_BODY = "<html><body>502 Bad Gateway</body></html>"
N_WALLETS = 400
ZIPF_S = 1.1  # wallet popularity skew
REPLAY_SHARE = 0.10  # of every batch after the first
MALFORMED_SHARE = 0.02  # of fresh rows
SPL_SHARE = 0.30  # of well-formed transactions


def b58(raw: bytes) -> str:
    n = int.from_bytes(raw, "big")
    out = []
    while n:
        n, r = divmod(n, 58)
        out.append(_B58[r])
    pad = len(raw) - len(raw.lstrip(b"\0"))
    return "1" * pad + "".join(reversed(out))


def sha256_hex(*parts: str) -> str:
    """The package's deterministic id: sha256 over '|'-joined parts."""
    return hashlib.sha256("|".join(parts).encode()).hexdigest()


def money_str(value: Decimal) -> str:
    """A DECIMAL(38,18) rendered as Spark and DuckDB render it."""
    return str(value.quantize(Decimal("1e-18")))


@dataclass(frozen=True)
class Entry:
    """One expected silver ledger entry."""

    id: str
    transaction_id: str
    wallet: str
    asset: str
    amount: str  # money_str


@dataclass(frozen=True)
class RawTx:
    wallet: str
    signature: str
    response_json: str
    malformed: bool
    entries: tuple[Entry, ...]

    @property
    def bronze_id(self) -> str:
        return sha256_hex("solana", self.wallet, self.signature)

    def raw_row(self) -> dict:
        return {
            "wallet_address": self.wallet,
            "signature": self.signature,
            "response_json": self.response_json,
            "chain": "solana",
        }

    def bronze_row(self) -> dict:
        """What the package's conform step makes of this row (the stream
        workload lands bronze directly, as a subscription would)."""
        block_time = 0 if self.malformed else json.loads(self.response_json)["blockTime"]
        return {
            "id": self.bronze_id,
            "user_id": NIL_UUID,
            "wallet_address": self.wallet,
            "timestamp": block_time,
            "tx_hash": self.signature,
            "chain": "solana",
            "raw_metadata": self.response_json,
        }


class LedgerGen:
    """Deterministic raw-fetch batches and their expected ledger.

    Batch ``b`` holds ``batch_rows`` rows. Batch 0 is all fresh; later
    batches replace ``REPLAY_SHARE`` of their rows with copies of rows from
    earlier batches. ``MALFORMED_SHARE`` of fresh rows carry an
    unparseable body and must land in quarantine, and ``SPL_SHARE`` of
    well-formed transactions carry one to three SPL token accounts owned
    by the wallet (plus one owned by the counterparty, which the parser
    must ignore).
    """

    def __init__(self, seed: int, batch_rows: int):
        self.seed = seed
        self.batch_rows = batch_rows
        rng = random.Random(f"{seed}:wallets")
        self.wallets = [b58(rng.randbytes(32)) for _ in range(N_WALLETS)]
        self.weights = [1.0 / (i + 1) ** ZIPF_S for i in range(N_WALLETS)]
        self.mints = [b58(rng.randbytes(32)) for _ in range(_MINTS_N)]
        self._fresh: dict[int, list[RawTx]] = {}

    def _n_fresh(self, b: int) -> int:
        return self.batch_rows if b == 0 else self.batch_rows - self._n_replay(b)

    def _n_replay(self, b: int) -> int:
        return 0 if b == 0 else int(round(self.batch_rows * REPLAY_SHARE))

    def fresh(self, b: int) -> list[RawTx]:
        if b not in self._fresh:
            rng = random.Random(f"{self.seed}:fresh:{b}")
            n = self._n_fresh(b)
            n_bad = int(round(n * MALFORMED_SHARE))
            bad = set(rng.sample(range(n), n_bad))
            wallets = rng.choices(self.wallets, weights=self.weights, k=n)
            self._fresh[b] = [
                self._tx(rng, b, i, wallets[i], i in bad) for i in range(n)
            ]
        return self._fresh[b]

    def batch(self, b: int) -> list[RawTx]:
        """Rows offered in batch ``b``: fresh rows with replays mixed in."""
        rows = list(self.fresh(b))
        rng = random.Random(f"{self.seed}:replay:{b}")
        for _ in range(self._n_replay(b)):
            rows.append(rng.choice(self.fresh(rng.randrange(b))))
        rng.shuffle(rows)
        return rows

    def _tx(self, rng: random.Random, b: int, i: int, wallet: str, bad: bool) -> RawTx:
        sig = b58(rng.randbytes(64))
        if bad:
            return RawTx(wallet, sig, MALFORMED_BODY, True, ())
        tid = sha256_hex("solana", wallet, sig)
        counterparty = rng.choice([w for w in self.wallets[:8] if w != wallet])
        # every delta clears the parser's 1e-6 dust filter and no balance
        # goes negative
        pre_w = rng.randrange(10**11, 10**12)
        delta = rng.randrange(2, 10**7) * 1000 * rng.choice((-1, 1))
        pre_cp = rng.randrange(10**11, 10**12)
        block_time = 1_700_000_000 + b * 3600 + i
        entries = [self._entry(tid, sig, wallet, "SOL", Decimal(delta).scaleb(-9), -1)]
        pre_tb, post_tb = [], []
        if rng.random() < SPL_SHARE:
            for j in range(rng.randint(1, 3)):
                idx = 2 + j
                mint = self.mints[rng.randrange(_MINTS_N)]
                decimals = rng.choice((6, 9))
                pre = rng.randrange(2 * 10**12, 10**13)
                post = pre + rng.randrange(2, 10**9) * 1000 * rng.choice((-1, 1))
                new_account = rng.random() < 0.2
                if not new_account:
                    pre_tb.append(_token_balance(idx, mint, wallet, pre, decimals))
                post_tb.append(_token_balance(idx, mint, wallet, post, decimals))
                base = 0 if new_account else pre
                entries.append(
                    self._entry(
                        tid, sig, wallet, mint, Decimal(post - base).scaleb(-decimals), idx
                    )
                )
            # a token account of the counterparty: never the wallet's entry
            mint = self.mints[rng.randrange(_MINTS_N)]
            pre_tb.append(_token_balance(9, mint, counterparty, 5 * 10**6, 6))
            post_tb.append(_token_balance(9, mint, counterparty, 7 * 10**6, 6))
        body = {
            "slot": 250_000_000 + b * 10_000 + i,
            "blockTime": block_time,
            "transaction": {
                "signatures": [sig],
                "message": {
                    "accountKeys": [
                        {"pubkey": wallet, "signer": True, "writable": True},
                        {"pubkey": counterparty, "signer": False, "writable": True},
                    ],
                    "instructions": [],
                    "recentBlockhash": b58(rng.randbytes(32)),
                },
            },
            "meta": {
                "err": None,
                "fee": 5000,
                "preBalances": [pre_w, pre_cp],
                "postBalances": [pre_w + delta, pre_cp - delta],
                "preTokenBalances": pre_tb,
                "postTokenBalances": post_tb,
                "logMessages": [],
                "rewards": [],
            },
        }
        return RawTx(wallet, sig, json.dumps(body, separators=(",", ":")), False, tuple(entries))

    @staticmethod
    def _entry(tid: str, sig: str, wallet: str, asset: str, amount: Decimal, ordinal: int) -> Entry:
        amt = money_str(amount)
        return Entry(sha256_hex(sig, wallet, asset, amt, str(ordinal)), tid, wallet, asset, amt)

    # ---- closed-form expectations over the first n batches ----

    def unique_txs(self, n_batches: int) -> list[RawTx]:
        """Distinct rows of batches 0..n-1 (replays only repeat fresh rows)."""
        return [tx for b in range(n_batches) for tx in self.fresh(b)]

    def expected(self, n_batches: int) -> dict:
        txs = self.unique_txs(n_batches)
        entries = [e for tx in txs for e in tx.entries]
        sol: dict[str, Decimal] = {}
        for e in entries:
            if e.asset == "SOL":
                sol[e.wallet] = sol.get(e.wallet, Decimal(0)) + Decimal(e.amount)
        return {
            "entries": entries,
            "silver_rows": len(entries),
            "quarantine_rows": sum(tx.malformed for tx in txs),
            "bronze_rows": len(txs),
            "sol_by_wallet": sol,
        }

    def pick_wallet(self, rng: random.Random) -> str:
        return rng.choices(self.wallets, weights=self.weights, k=1)[0]


def _token_balance(idx: int, mint: str, owner: str, raw: int, decimals: int) -> dict:
    return {
        "accountIndex": idx,
        "mint": mint,
        "owner": owner,
        "uiTokenAmount": {
            "uiAmount": raw / 10**decimals,
            "decimals": decimals,
            "amount": str(raw),
        },
    }


def write_jsonl(path: str, rows: list[dict]) -> None:
    """Write rows as one JSON object per line, atomically (rename into
    place, so a file-source stream never sees a half-written file)."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# Headline-catalog tables
# ---------------------------------------------------------------------------

_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
_PADJ = ["blue", "cold", "hot", "red", "small", "large"]
_PNOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil"]
_EVENTS = ["signup", "click", "error", "view", "purchase"]
_LANGS = ["en", "zh", "es", "fr", "de"]

# rows per table, as in the package's sf0.01 test data (see README.md for
# why not sf0.1); lineitem and documents set the catalog's working set
CATALOG_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "documents": 500,
    "embeddings": 500,
    "events": 10000,
}


def write_catalog_tables(out_dir: str, seed: int) -> None:
    """Write the ten tables the headline queries read, one parquet file
    each, shaped like the package's synthetic test data."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = CATALOG_ROWS
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo: float, hi: float, k: int):
        return np.round(rng.uniform(lo, hi, k), 2)

    def days(start: str, span: int, k: int):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span, k).astype("timedelta64[D]").astype("timedelta64[us]")

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    put("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
    })
    ns = n["supplier"]
    put("supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, ns),
    })
    npart = n["part"]
    put("part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PADJ, npart), rng.choice(_PNOUN, npart))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_PTYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10.0, 2),
    })
    no = n["orders"]
    put("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": money(1000, 500000, no),
        "o_orderdate": days("1995-01-01", 2404, no),
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    })
    nl = n["lineitem"]
    put("lineitem", {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": days("1995-01-02", 2498, nl),
    })
    put("documents", _documents(rng, n["documents"]))
    ne = n["embeddings"]
    vecs = rng.normal(0, 1, (ne, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(ne, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, ne).astype(np.int32),
    })
    nev = n["events"]
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, nev)
    ).astype("timedelta64[us]")
    put("events", {
        "event_id": np.arange(nev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, nc // 10, nev).astype(np.int64),
        "event_type": rng.choice(_EVENTS, nev),
        "value": money(0, 560, nev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, nev)],
    })


def _documents(rng, k: int) -> dict:
    """Random-vocabulary documents with planted exact duplicates and
    near-duplicates (an earlier document plus a trailing ``dup`` token),
    like the package's test corpus. Copies are made of original documents
    only, so every seed plants the same shape of duplicate groups."""
    texts: list[str] = []
    originals: list[int] = []
    for i in range(k):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        elif i > 10 and r < 0.055:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
        else:
            originals.append(i)
            n_tok = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_VOCAB, n_tok)))
    return {
        "doc_id": list(range(k)),
        "text": texts,
        "lang": list(rng.choice(_LANGS, k, p=[0.42, 0.145, 0.145, 0.145, 0.145])),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": [len(t) for t in texts],
    }
