"""Seeded input generators.  The product only ever sees what these
write: a parquet page table for the batch build, parquet page drops
for the stream, parquet tables for the queries.  The same seed gives
byte-identical files.

Pages follow the corpus spec through its independent pure-Python twin
(``tests/oracle.py``), so a page here is the same row the product's own
``sources.pages.pages_df`` would emit for that url id.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from tests import oracle

# stream corpus: url ids are sampled from this space, so each seed
# streams a different page sample with the same size and mix
UID_SPACE = 1_000_000
RECRAWL_EVERY = 10
BASE_TS = dt.datetime(2024, 1, 1)

PAGE_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def page_row(uid: int, snapshot: int) -> dict:
    return {
        "url": f"https://example.org/p/{uid}",
        "warc_ts": BASE_TS
        + dt.timedelta(days=7 * snapshot, seconds=uid % 86400),
        "html": oracle.page_html(uid, snapshot),
        "text": oracle.page_text(uid, snapshot)
        if uid % 3 == 0 and snapshot == 0
        else None,
        "lang": "de" if uid % 11 == 7 else "en",
    }


def sample_uids(rng: random.Random, n_pages: int) -> tuple[list, list]:
    """(``n_pages`` distinct url ids in seeded order, the tenth of them
    that have a recrawl snapshot: ids divisible by 10, as in the corpus
    spec).  Every seed gives the same counts."""
    n_recrawl = n_pages // RECRAWL_EVERY
    tens = rng.sample(range(0, UID_SPACE, RECRAWL_EVERY), n_recrawl)
    rest: set = set()
    order = []
    while len(order) < n_pages - n_recrawl:
        uid = rng.randrange(UID_SPACE)
        if uid % RECRAWL_EVERY and uid not in rest:
            rest.add(uid)
            order.append(uid)
    uids = tens + order
    rng.shuffle(uids)
    return uids, tens


def page_table(rng: random.Random, n_pages: int) -> list[dict]:
    """Rows of the batch build's ``pages`` input: ``n_pages`` sampled
    urls and the recrawl snapshots of a tenth of them."""
    uids, tens = sample_uids(rng, n_pages)
    return [page_row(u, 0) for u in uids] + [page_row(u, 1) for u in tens]


def write_pages(path: str, rows: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGE_SCHEMA), path)


def page_drops(rng: random.Random, n_pages: int, n_drops: int):
    """``n_pages`` sampled urls (see ``sample_uids``) dealt evenly into
    ``n_drops`` drops.  A recrawl lands in a different drop from its
    first crawl, so the cross-batch anti-join has committed triples to
    drop.  Every seed gives the same drop sizes."""
    uids, tens = sample_uids(rng, n_pages)
    drops: list[list[dict]] = [[] for _ in range(n_drops)]
    for i, uid in enumerate(uids):
        drops[i % n_drops].append(page_row(uid, 0))
    for i, uid in enumerate(tens):
        first = uids.index(uid) % n_drops
        drops[(first + 1 + i % (n_drops - 1)) % n_drops].append(
            page_row(uid, 1)
        )
    return drops


def write_drops(out_dir: str, drops: list[list[dict]], first: int) -> None:
    """One parquet file per drop, numbered from ``first`` so files land
    in the stream source in drop order."""
    for i, part in enumerate(drops, start=first):
        write_pages(os.path.join(out_dir, f"drop_{i:04d}.parquet"), part)


# query tables -------------------------------------------------------------

WORDS = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge "
    "data join vector customer the of and in to is"
).split()


def query_tables(out_dir: str, seed: int, n_parts: int, n_docs: int):
    """``nation``, ``part`` and ``documents`` with the columns the
    queries read.  Sizes and the part tree are fixed; the seed varies
    the region graph, the other part columns, the document texts and
    row order."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)

    nation = list(range(25))
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array(nation, pa.int32()),
                "n_name": [f"NATION_{k}" for k in nation],
                "n_regionkey": pa.array(
                    [rng.randrange(5) for _ in nation], pa.int32()
                ),
            }
        ),
        os.path.join(out_dir, "nation.parquet"),
    )

    keys = list(range(n_parts))
    rng.shuffle(keys)
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array(keys, pa.int64()),
                "p_name": [
                    f"{rng.choice(WORDS)} {rng.choice(WORDS)}" for _ in keys
                ],
                "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in keys],
                "p_type": [rng.choice(["LARGE", "SMALL", "ECONOMY"])
                           for _ in keys],
                "p_size": pa.array(
                    [rng.randrange(1, 51) for _ in keys], pa.int32()
                ),
                "p_retailprice": [
                    round(900 + rng.random() * 1100, 2) for _ in keys
                ],
            }
        ),
        os.path.join(out_dir, "part.parquet"),
    )

    texts = documents(rng, n_docs)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": texts,
                "lang": [rng.choice(["en", "en", "en", "de", "zh"])
                         for _ in texts],
                "source": [f"src{i % 7}" for i in range(n_docs)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )


NEAR_DUP_SHARE = 0.3  # of documents that copy an earlier one, edited


def documents(rng: random.Random, n: int) -> list[str]:
    """Texts over ``WORDS``, 12 to 60 tokens.  A share of them copy an
    earlier text with one or two tokens replaced, so the MinHash dedup
    query has near-duplicate clusters to find."""
    out: list[str] = []
    for _ in range(n):
        if out and rng.random() < NEAR_DUP_SHARE:
            toks = rng.choice(out[-50:]).split()
            for _ in range(rng.randrange(1, 3)):
                toks[rng.randrange(len(toks))] = rng.choice(WORDS)
        else:
            toks = [rng.choice(WORDS) for _ in range(rng.randrange(12, 61))]
        out.append(" ".join(toks))
    return out


def oracle_aux_tables(out_dir: str, seed: int) -> None:
    """Small ``documents``, ``embeddings`` and ``orders`` tables.  The
    registry builds all its DuckDB twins at once, and a few of them read
    these tables while being built; the twins this benchmark checks do
    not use them."""
    rng = random.Random(seed ^ 0xA0C)
    os.makedirs(out_dir, exist_ok=True)
    n = 60
    texts = [
        " ".join(rng.choice(WORDS) for _ in range(rng.randrange(12, 30)))
        for _ in range(n)
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": texts,
                "lang": ["en"] * n,
                "source": [f"src{i % 7}" for i in range(n)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(
                    [[rng.uniform(-1, 1) for _ in range(64)]
                     for _ in range(n)],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([i % 10 for i in range(n)], pa.int32()),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(range(n), pa.int64()),
                "o_custkey": pa.array(
                    [rng.randrange(150) for _ in range(n)], pa.int64()
                ),
                "o_orderstatus": [rng.choice("FOP") for _ in range(n)],
                "o_totalprice": [round(rng.uniform(1e3, 3e5), 2)
                                 for _ in range(n)],
                "o_orderdate": [dt.datetime(1997, 1, 1)
                                + dt.timedelta(days=rng.randrange(900))
                                for _ in range(n)],
                "o_orderpriority": [rng.choice(["1-URGENT", "3-MEDIUM"])
                                    for _ in range(n)],
            }
        ),
        os.path.join(out_dir, "orders.parquet"),
    )
