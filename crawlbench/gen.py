"""Seeded input generator for the crawl-engine benchmark.

Every table is a pure function of (workload seed, size) and is written
straight to parquet with pyarrow, in the schemas the engine reads:

- crawl fixtures: the tables of ``crunchy_spark.datagen.write_fixtures``
  (images, page_meta, frontier_seed, host_policy, rates, META.txt) plus
  ``ingest_<k>.parquet`` seed batches for ``CrawlEngine.ingest_seeds``;
- scheduling inputs: the tables of ``bench/scaling_bench.build_inputs``
  (frontier, seen, host_policy);
- curation tables: ``orders``, ``lineitem`` and ``documents`` in the
  column layout of the TPC-H-style test data the ``queries`` operators
  and their DuckDB oracles read.

The engine only ever sees the parquet; nothing here calls Spark.

Usage: python3 crawlbench/gen.py {crawl|schedule|curation} OUT_DIR SEED [SIZE]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from crunchy_spark import codec, datagen, schemas  # noqa: E402

# (n_images, n_seeds, subhosts per domain, ingest batches, batch size)
CRAWL_SIZES = {
    "bench": (240, 12_000, 50, 12, 200),
    "tiny": (24, 600, 6, 4, 40),
}
# input URLs of one scheduling pass
SCHEDULE_SIZES = {"bench": 200_000, "tiny": 20_000}
# (orders, lineitem, documents)
CURATION_SIZES = {"bench": (3_000, 12_000, 200), "tiny": (600, 2_400, 60)}


def _arrow_schema(struct) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(struct)


def _write(pdf: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# crawl fixtures
# ---------------------------------------------------------------------------
def _host(i: int, n_sub: int, seed: int) -> str:
    domain = "crunchbase.com" if i % 2 == 0 else "tracxn.com"
    if i % 10 < 8:  # 80/20 skew: most URLs on the two apex hosts
        return domain
    return f"h{((i // 10) * 7919 + seed) % n_sub:04d}.{domain}"


def _url(i: int, n_sub: int, seed: int) -> str:
    slug = f"co-{i:08d}"
    host = _host(i, n_sub, seed)
    if i % 2 == 0:
        return f"https://{host}/organization/{slug}"
    tail = hashlib.md5(slug.encode()).hexdigest()[:12]
    return f"https://{host}/d/companies/{slug}/__{tail}"


def _seed_rows(ids, n_sub: int, seed: int, rng) -> pd.DataFrame:
    """Seed list over universe ``ids``: 15% duplicate injection and 10%
    extra URL noise, the shape of ``datagen.gen_frontier_seed_pdf``."""
    rows = []
    for idx in range(len(ids)):
        is_dup = idx >= 20 and idx % 20 in (3, 9, 17)
        base = int(ids[idx // 2] if is_dup else ids[idx])
        url = _url(base, n_sub, seed)
        if is_dup or idx % 10 == 6:
            url = datagen.add_noise(url, int(rng.integers(1 << 30)))
        rows.append(
            {
                "url": url,
                "entry_point": [None, "crunchbase", "tracxn"][idx % 3],
                "queue": datagen.site_of(base),
                "seq": idx,
                "priority": float(rng.random()),
            }
        )
    return pd.DataFrame(rows)


_SEED_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("entry_point", pa.string()),
        ("queue", pa.string()),
        ("seq", pa.int64()),
        ("priority", pa.float64()),
    ]
)


def write_crawl(out_dir: str, seed: int, size: str = "bench") -> dict:
    n_images, n_seeds, n_sub, n_batches, batch = CRAWL_SIZES[size]
    n_universe = 10 * n_seeds
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    ids = rng.permutation(n_universe)

    # images: codec payloads; the index offset keeps the dims/format/near-dup
    # cycle (period 12) identical across seeds, so decode cost is too
    off = 12 * (seed % 100_000)
    img_rows = []
    for m in range(n_images):
        src = off + m
        w, h = datagen.image_dims(m)
        fmt = "jpeg" if m % 3 == 0 else "png"
        data = codec.encode_image(codec.gen_pixels(src, w, h), fmt)
        decoded, _ = codec.decode_image(data)
        img_rows.append(
            {
                "image_id": f"img{m:010d}",
                "bytes": data,
                "w": w,
                "h": h,
                "fmt": fmt,
                "caption": datagen.caption_for(m),
                "phash": codec.phash64(decoded),
            }
        )
    _write(
        pd.DataFrame(img_rows),
        os.path.join(out_dir, "images.parquet"),
        _arrow_schema(schemas.IMAGES),
    )

    meta_rows = []
    for m in range(n_images):
        sims = []
        for k in range(m % 6):
            u = _url(int(rng.integers(n_universe)), n_sub, seed)
            if (m + k) % 8 < 2:
                u = datagen.add_noise(u, m + k)
            sims.append(u)
        pool = datagen.INDUSTRY_POOL
        meta_rows.append(
            {
                "image_id": f"img{m:010d}",
                "name": f"Company {m}",
                "website": f"https://co-{m % 4000}.example.com/",
                "funding": datagen.FUNDING_CORPUS[m % len(datagen.FUNDING_CORPUS)],
                "founders": [
                    datagen.FOUNDER_POOL[(m + j) % len(datagen.FOUNDER_POOL)]
                    for j in range(m % 4)
                ],
                "industries": [pool[(m + j) % len(pool)] for j in range(m % 4)],
                "similar_companies": sims,
                "description": f"Deterministic description {m}.",
                "founded": datagen.FOUNDED_CORPUS[m % len(datagen.FOUNDED_CORPUS)],
                "logo": None if m % 5 < 3 else f"https://res.example.com/logo{m}.png",
            }
        )
    _write(
        pd.DataFrame(meta_rows),
        os.path.join(out_dir, "page_meta.parquet"),
        _arrow_schema(schemas.PAGE_META),
    )

    seeds = _seed_rows(ids[:n_seeds], n_sub, seed, rng)
    _write(seeds, os.path.join(out_dir, "frontier_seed.parquet"), _SEED_SCHEMA)

    # ingest batches: half re-sends of already-seeded URLs, half new ones
    fresh_ids = ids[n_seeds:]
    for k in range(n_batches):
        old = rng.choice(n_seeds, batch // 2, replace=False)
        new = fresh_ids[k * (batch - batch // 2) : (k + 1) * (batch - batch // 2)]
        rows = []
        for j, u in enumerate(
            [seeds["url"][int(o)] for o in old]
            + [_url(int(i), n_sub, seed) for i in new]
        ):
            rows.append(
                {
                    "url": u,
                    "entry_point": None,
                    "queue": "crunchbase" if "crunchbase" in u.lower() else "tracxn",
                    "seq": j,
                    "priority": 0.5,
                }
            )
        _write(
            pd.DataFrame(rows), os.path.join(out_dir, f"ingest_{k}.parquet"), _SEED_SCHEMA
        )

    policy = []
    for domain in ("crunchbase.com", "tracxn.com"):
        hosts = [(domain, 5.0)] + [
            (f"h{k:04d}.{domain}", float([1, 2, 5][k % 3])) for k in range(n_sub)
        ]
        for host, delay in hosts:
            policy.append(
                {
                    "host": host,
                    "crawl_delay_s": delay,
                    "max_concurrent": 1,
                    "robots_allow": True,
                    "cloudflare": domain == "crunchbase.com",
                }
            )
    _write(
        pd.DataFrame(policy),
        os.path.join(out_dir, "host_policy.parquet"),
        _arrow_schema(schemas.HOST_POLICY),
    )
    _write(
        datagen.gen_rates_pdf(),
        os.path.join(out_dir, "rates.parquet"),
        _arrow_schema(schemas.RATES),
    )
    with open(os.path.join(out_dir, "META.txt"), "w") as f:
        f.write(
            f"scale=crawlbench n_images={n_images} n_seeds={n_seeds} "
            f"n_universe={n_universe}\n"
        )
    return {
        "images": n_images,
        "page_meta": n_images,
        "frontier_seed": n_seeds,
        "host_policy": len(policy),
        "ingest_batches": n_batches,
        "ingest_batch_rows": batch,
    }


# ---------------------------------------------------------------------------
# scheduling inputs (bench/scaling_bench.build_inputs layout)
# ---------------------------------------------------------------------------
N_SCHED_HOSTS = 1000


def write_schedule(out_dir: str, seed: int, size: str = "bench") -> dict:
    n = SCHEDULE_SIZES[size]
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    key_off = int(rng.integers(1, 10**8)) * 10
    noise = ["", "", "", "", "/", "?utm=x", "#frag", ""]
    # arrival order is a seeded shuffle of the row ids
    order = rng.permutation(n)
    urls = []
    for i in order.tolist():
        base = i // 2 if i % 20 < 3 else i  # 15% duplicates
        host = (
            "crunchbase.com"
            if i % 10 < 8
            else f"h{base % N_SCHED_HOSTS}.crunchbase.com"
        )
        www = "WWW." if i % 5 == 0 else ""
        urls.append(
            f"https://{www}{host}/organization/co-{key_off + base:09d}{noise[i % 8]}"
        )
    frontier = pd.DataFrame(
        {
            "seq": np.arange(n, dtype=np.int64),
            "url": urls,
            "queue_rank": (order % 3).astype(np.int32),
        }
    )
    os.makedirs(os.path.join(out_dir, "frontier"), exist_ok=True)
    step = -(-n // 8)
    for p in range(8):
        _write(
            frontier.iloc[p * step : (p + 1) * step],
            os.path.join(out_dir, "frontier", f"part-{p:03d}.parquet"),
        )

    # seen: 10% of n canonical URLs, every third key — overlaps the frontier
    shas = [
        hashlib.sha1(
            f"https://crunchbase.com/organization/co-{key_off + 3 * j:09d}".encode()
        ).hexdigest()
        for j in range(n // 10)
    ]
    seen = pd.DataFrame(
        {"url_sha1": shas, "sha_int": [int(s[:15], 16) for s in shas]}
    )
    os.makedirs(os.path.join(out_dir, "seen"), exist_ok=True)
    _write(seen, os.path.join(out_dir, "seen", "part-000.parquet"))

    hosts = [f"h{k}.crunchbase.com" for k in range(N_SCHED_HOSTS)] + ["crunchbase.com"]
    policy = pd.DataFrame(
        {
            "host": hosts,
            "crawl_delay_s": 5.0,
            "max_concurrent": 1,
            "robots_allow": True,
            "cloudflare": False,
        }
    )
    os.makedirs(os.path.join(out_dir, "host_policy"), exist_ok=True)
    _write(
        policy,
        os.path.join(out_dir, "host_policy", "part-000.parquet"),
        _arrow_schema(schemas.HOST_POLICY),
    )
    return {"frontier": n, "seen": len(seen), "host_policy": len(policy)}


# ---------------------------------------------------------------------------
# curation tables (TPC-H-style test-data layout)
# ---------------------------------------------------------------------------
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def write_curation(out_dir: str, seed: int, size: str = "bench") -> dict:
    n_orders, n_lines, n_docs = CURATION_SIZES[size]
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    day0 = datetime(1995, 1, 1)
    n_cust = max(10, n_orders // 10)
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders, dtype=np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
            "o_orderdate": [
                day0 + timedelta(days=int(d)) for d in rng.integers(0, 2404, n_orders)
            ],
            "o_orderpriority": rng.choice(_PRIOS, n_orders),
        }
    )
    _write(orders, os.path.join(out_dir, "orders.parquet"), pa.schema([
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string()),
    ]))

    okeys = rng.integers(0, n_orders, n_lines, dtype=np.int64)
    flags = rng.integers(0, 6, n_lines)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": okeys,
            "l_partkey": rng.integers(0, max(10, n_lines // 30), n_lines, dtype=np.int64),
            "l_suppkey": rng.integers(0, max(10, n_lines // 600), n_lines, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_lines), 2),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[flags % 3],
            "l_linestatus": np.array(["O", "F"])[flags // 3],
            "l_shipdate": [
                day0 + timedelta(days=int(d)) for d in rng.integers(1, 2499, n_lines)
            ],
        }
    )
    _write(lineitem, os.path.join(out_dir, "lineitem.parquet"), pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ]))

    texts = []
    for d in range(n_docs):
        if d >= 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: the dedup ops' target
            src = texts[int(rng.integers(d))].split()
            cut = int(rng.integers(0, max(1, len(src) // 8) + 1))
            texts.append(" ".join(src[: len(src) - cut] + ["dup"]))
        else:
            n_words = int(rng.integers(6, 90))
            texts.append(" ".join(rng.choice(_WORDS[:7] + _WORDS[8:], n_words)))
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "en", "en", "de", "fr", "es", "zh"], n_docs),
            "source": [f"src{d % 20}" for d in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    _write(documents, os.path.join(out_dir, "documents.parquet"))
    return {"orders": n_orders, "lineitem": n_lines, "documents": n_docs}


WRITERS = {"crawl": write_crawl, "schedule": write_schedule, "curation": write_curation}

if __name__ == "__main__":
    kind, out, seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    size = sys.argv[4] if len(sys.argv) > 4 else "bench"
    print(json.dumps(WRITERS[kind](out, seed, size)))
