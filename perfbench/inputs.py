"""Seeded inputs for the workloads.

Row shapes come from ``tests/fixtures.py`` (the repo's fixture
generators), so the benchmark feeds the engine the same feeds its tests
do, only more of them. Every generator takes the run's seed; the same
seed gives byte-identical files except the stream messages' creation
stamps, which record when they were made. The engine sees only the
files written here.
"""

from __future__ import annotations

import gzip
import json
import os
import random
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from tests import fixtures as FX

# ------------------------------------------------------------- stream_ingest

STREAM_CUSTOMERS = 200
STREAM_PRODUCTS = 50
STREAM_MESSAGES_PER_TICK = 200


@dataclass
class StreamPopulation:
    customers: list[dict]
    products: list[str]


def stream_population(seed: int) -> StreamPopulation:
    rng = random.Random(seed)
    products = sorted({f"P{rng.randrange(10**6):06d}" for _ in range(STREAM_PRODUCTS * 2)})
    return StreamPopulation(
        FX.gen_customers(STREAM_CUSTOMERS, seed=seed), products[:STREAM_PRODUCTS]
    )


def land_stream_tick(src_dir: str, pop: StreamPopulation, seed: int, tick: int) -> list[dict]:
    """Write one JSON-lines file of Kafka-shaped transaction messages, each
    stamped (``created_at``, epoch seconds) as the generator makes it.
    Returns the messages as dicts; the engine's message schema ignores
    the stamp."""
    msgs = []
    for line in FX.gen_txn_stream_messages(
        pop.customers, pop.products, n=STREAM_MESSAGES_PER_TICK, seed=seed * 100_003 + tick
    ):
        m = json.loads(line)
        m["created_at"] = time.time()
        msgs.append(m)
    # written under a hidden name and renamed: a file source never lists a
    # half-written file
    final = os.path.join(src_dir, f"tick-{tick:06d}.json")
    tmp = os.path.join(src_dir, f".tick-{tick:06d}.json.tmp")
    with open(tmp, "w") as fh:
        fh.write("".join(json.dumps(m) + "\n" for m in msgs))
    os.rename(tmp, final)
    return msgs


# ----------------------------------------------------------- medallion_batch

BATCH_BASE_CUSTOMERS = 2000
#: per cycle
BATCH_NEW_CUSTOMERS = 60
BATCH_UPDATED_CUSTOMERS = 120
BATCH_ERASED_CUSTOMERS = 20
BATCH_TXNS = 3000
BATCH_TXN_BUYERS = 150  # a small buyer pool so the recommendation cohort is not empty
BATCH_INVOICES = 100
BATCH_FEED_EVENTS = 600
BATCH_FEED_PRODUCTS = 200

CUSTOMER_COLUMNS = list(FX.gen_customers(1, seed=0)[0])


@dataclass
class BatchSlice:
    dir: str
    changes: list[dict]  # customer upserts (updates and inserts)
    erased: list[str]  # customer ids to erase after the upserts
    txns: list[dict]
    invoices: list[dict]  # RELATIVE_PATH, PDF_TEXT
    feed: list[dict]

    @property
    def rows(self) -> int:
        return (
            len(self.changes) + len(self.erased) + len(self.txns)
            + len(self.invoices) + len(self.feed)
        )


def base_customers(seed: int) -> list[dict]:
    return _unique(FX.gen_customers(BATCH_BASE_CUSTOMERS, seed=seed), set())


def _unique(rows: list[dict], taken: set[str]) -> list[dict]:
    out = []
    for r in rows:
        if r["CUSTOMER_ID"] not in taken:
            taken.add(r["CUSTOMER_ID"])
            out.append(r)
    return out


def land_batch_slice(root: str, customers: dict[str, dict], seed: int, cycle: int) -> BatchSlice:
    """Write one cycle's feeds under ``root/cycle-N``: customer changes as
    parquet, transaction history as gzipped JSON lines, invoice PDFs and
    the product feed as parquet. ``customers`` is the current customer
    table by id; it is read, not changed."""
    s = seed * 100_003 + cycle
    rng = random.Random(s)
    d = os.path.join(root, f"cycle-{cycle:04d}")
    os.makedirs(os.path.join(d, "invoices"))

    ids = sorted(customers)
    updated = [
        dict(customers[i], CITY=rng.choice(FX.CITIES), HOME_PHONE=f"555{customers[i]['HOME_PHONE']}")
        for i in rng.sample(ids, BATCH_UPDATED_CUSTOMERS)
    ]
    new = _unique(FX.gen_customers(BATCH_NEW_CUSTOMERS, seed=s), set(ids))
    changes = updated + new
    erased = rng.sample(ids, BATCH_ERASED_CUSTOMERS)
    pq.write_table(pa.Table.from_pylist(changes), os.path.join(d, "customer.parquet"))

    feed = FX.gen_product_feed(BATCH_FEED_EVENTS, BATCH_FEED_PRODUCTS, seed=s)
    pq.write_table(pa.Table.from_pylist(feed), os.path.join(d, "product_feed.parquet"))
    products = sorted({r["PRODUCT"] for r in feed})
    # half the purchases hit the app's 'b%' cohort products
    b_products = [p for p in products if p.startswith("b")] or products[:1]
    weighted = b_products * max(1, len(products) // len(b_products)) + products
    buyers = [customers[i] for i in ids[:BATCH_TXN_BUYERS]]
    txns = FX.gen_txn_history(buyers, weighted, n=BATCH_TXNS, seed=s)
    with gzip.open(os.path.join(d, "txn_history.json.gz"), "wt") as fh:
        fh.write("".join(json.dumps(t) + "\n" for t in txns))

    invoices = FX.gen_invoice_texts([customers[i] for i in ids], n=BATCH_INVOICES, seed=s)
    for k, inv in enumerate(invoices):
        with open(os.path.join(d, "invoices", inv["RELATIVE_PATH"]), "wb") as fh:
            fh.write(FX.make_pdf(inv["PDF_TEXT"], compress=k % 2 == 0))
    return BatchSlice(d, changes, erased, txns, invoices, feed)


# ------------------------------------ medallion_batch: the dedup pass corpus

#: the word list and length range of the repo's ``documents`` test table
CORPUS_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
CORPUS_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
CORPUS_DOCS = 1200
CORPUS_NEAR_DUP_SHARE = 0.10
#: share of a near-duplicate's words replaced at random
CORPUS_EDIT_RATE = 0.05


def write_corpus(sf_dir: str, seed: int) -> list[dict]:
    """Write ``sf_dir/documents.parquet`` with the ``documents`` table's
    columns: ``CORPUS_DOCS`` docs, exactly ``CORPUS_NEAR_DUP_SHARE`` of them
    near-duplicates of an earlier original doc (``CORPUS_EDIT_RATE`` of
    its words replaced, at least one), the rest 10-100 random words.
    Variants copy originals only, so every seed gives star-shaped
    clusters and the same amount of work."""
    rng = random.Random(seed)
    n_dups = round(CORPUS_DOCS * CORPUS_NEAR_DUP_SHARE)
    dup_at = set(rng.sample(range(1, CORPUS_DOCS), n_dups))
    docs: list[dict] = []
    originals: list[str] = []
    for i in range(CORPUS_DOCS):
        if i in dup_at:
            words = rng.choice(originals).split()
            edits = {rng.randrange(len(words))} | {
                k for k in range(len(words)) if rng.random() < CORPUS_EDIT_RATE
            }
            text = " ".join(rng.choice(CORPUS_VOCAB) if k in edits else w for k, w in enumerate(words))
        else:
            text = " ".join(rng.choice(CORPUS_VOCAB) for _ in range(rng.randint(10, 100)))
            originals.append(text)
        docs.append(
            {
                "doc_id": i,
                "text": text,
                "lang": rng.choice(CORPUS_LANGS),
                "source": f"src{rng.randrange(20)}",
                "n_chars": len(text),
            }
        )
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(docs), os.path.join(sf_dir, "documents.parquet"))
    return docs
