"""Seeded input generators for the crawl-engine benchmark.

Everything the engine sees is derived from one integer seed, so the same
``--seed`` always yields the same inputs:

* ``fixtures`` -- the ``crawl_continuous`` store's frontier, robots, budgets
  and image+caption tables from ``crawlspark.datagen`` (~2k URLs over 20
  Zipf hosts, ~10% duplicates including canonicalization twins, ~5%
  robots-denied paths, 200 images, 8 strata), written as parquet once per
  seed under the cache directory and reused: the image table costs ~5 ms
  per image.
* ``discovery_batch`` -- the batch of discovered URLs ``crawl_continuous``
  folds into its store before each epoch: new URLs, exact re-discoveries of
  known URLs and canonicalization twins of known URLs.
* ``query_tables`` -- the star-schema, events, documents and embeddings
  tables the headline queries read, at the row counts and value ranges of
  the repository's sf0.01 test tables, written once per seed.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_STRATA = 8
SPEC = dict(n_images=200, n_urls=2_000, n_hosts=20, n_strata=N_STRATA)
TABLES = ("frontier", "robots", "budgets", "image_caption")
DISCOVERY_SIZE = 100
BASE_TS = pd.Timestamp("2026-01-01T00:00:00Z")


def fixtures(seed: int, cache_dir: str) -> dict:
    """Parquet path per table (see ``TABLES``) at ``seed``, generated on
    first use."""
    from crawlspark import datagen

    spec = datagen.GenSpec(seed=seed, **SPEC)
    out = os.path.join(cache_dir, f"continuous-s{seed}")
    paths = {t: os.path.join(out, f"{t}.parquet") for t in TABLES}
    if all(os.path.exists(p) for p in paths.values()):
        return paths
    os.makedirs(out, exist_ok=True)
    gens = {"frontier": datagen.gen_frontier, "robots": datagen.gen_robots,
            "budgets": datagen.gen_budgets,
            "image_caption": datagen.gen_image_caption}
    for table, fn in gens.items():
        tmp = f"{paths[table]}.{os.getpid()}.tmp"
        pq.write_table(pa.Table.from_pandas(fn(spec), preserve_index=False),
                       tmp)
        os.replace(tmp, paths[table])
    return paths


def _twin(url: str, kind: int) -> str:
    """A raw URL that canonicalizes to ``url`` (datagen's four dirty forms)."""
    if kind == 0:
        return url.replace("http://host", "http://HOST", 1)
    if kind == 1:
        return url + "#frag"
    if kind == 2:
        return url.replace(".example.com/", ".example.com:80/", 1)
    return url.replace("/img/", "/img/../img/./", 1)


def discovery_batch(seed: int, batch_id: int, known_urls: list[str],
                    n: int = DISCOVERY_SIZE) -> pd.DataFrame:
    """One discovery batch in frontier schema: ~60% new URLs on the store's
    hosts (5% under the robots-denied ``/private/`` path), ~25% exact
    re-discoveries of known URLs and ~15% canonicalization twins of known
    URLs.  Twins are made from the canonical form: a twin of a twin can be
    an invalid URL (``#frag#frag``), on which ``fold_batch`` raises."""
    from crawlspark.functions.urls import canonicalize_url, hash64, host_of

    rng = np.random.RandomState((seed * 1_000_003 + batch_id) % (2 ** 32))
    urls = []
    for j in range(n):
        r = rng.uniform()
        if r < 0.60:
            host = (f"host{int(rng.zipf(1.5)) % SPEC['n_hosts']:04d}"
                    ".example.com")
            path = "private/img" if rng.uniform() < 0.05 else "img"
            img = int(rng.randint(SPEC["n_images"]))
            urls.append(f"http://{host}/{path}/d{batch_id}x{j}/"
                        f"img_{img:012d}")
        elif r < 0.85:
            urls.append(known_urls[int(rng.randint(len(known_urls)))])
        else:
            known = known_urls[int(rng.randint(len(known_urls)))]
            urls.append(_twin(canonicalize_url(known), int(rng.randint(4))))
    canon = [canonicalize_url(u) for u in urls]
    hosts = [host_of(u) for u in urls]
    seq = (1_000_000 * (batch_id + 1) + np.arange(n)).astype(np.int64)
    return pd.DataFrame({
        "url": urls,
        "url_hash": np.array([hash64(c) for c in canon], dtype=np.int64),
        "host": hosts,
        "host_hash": np.array([hash64(h) for h in hosts], dtype=np.int64),
        "priority": rng.randint(0, N_STRATA, size=n).astype(np.int32),
        "seq": seq,
        "image_id": pd.Series(canon).str.extract(r"(img_\d{12})")[0],
        "attempt": np.int32(0),
        "not_before_epoch": np.int32(0),
        "discovered_at": (BASE_TS + pd.to_timedelta(seq % 86_400, unit="s"))
        .astype("datetime64[us, UTC]"),
    })


# -- headline-query tables ------------------------------------------------------

QUERY_ROWS = dict(customer=1_500, supplier=100, part=2_000, orders=15_000,
                  lineitem=60_000, events=10_000, documents=500,
                  embeddings=500)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [.44, .14, .14, .14, .14]
EMBED_DIM = 64


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = pd.Timestamp(start), pd.Timestamp(end)
    days = rng.randint(0, (hi - lo).days + 1, size=n)
    return (lo + pd.to_timedelta(days, unit="D")).values.astype("M8[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.randint(int(lo * 100), int(hi * 100) + 1, size=n) / 100.0


def _documents(rng, n: int) -> pd.DataFrame:
    """Random texts over ``VOCAB``; ~5% are an earlier text plus " dup"."""
    texts: list[str] = []
    for _ in range(n):
        if texts and rng.uniform() < 0.05:
            texts.append(texts[int(rng.randint(len(texts)))] + " dup")
        else:
            k = int(rng.randint(10, 100))
            texts.append(" ".join(VOCAB[i] for i in
                                  rng.randint(len(VOCAB), size=k)))
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids, "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def _query_frames(seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.RandomState(seed % (2 ** 32))
    n = QUERY_ROWS
    i32 = np.int32
    out = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32),
                                "r_name": REGIONS}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32)}),
    }
    keys = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pd.DataFrame({
        "c_custkey": keys, "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.randint(0, 25, size=len(keys)).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(keys)),
        "c_mktsegment": rng.choice(SEGMENTS, size=len(keys))})
    keys = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pd.DataFrame({
        "s_suppkey": keys, "s_name": [f"Supplier#{k:09d}" for k in keys],
        "s_nationkey": rng.randint(0, 25, size=len(keys)).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(keys))})
    keys = np.arange(n["part"], dtype=np.int64)
    out["part"] = pd.DataFrame({
        "p_partkey": keys,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   rng.randint(0, 8, size=(len(keys), 2))],
        "p_brand": [f"Brand#{b}" for b in rng.randint(1, 26, size=len(keys))],
        "p_type": rng.choice(PART_TYPES, size=len(keys)),
        "p_size": rng.randint(1, 51, size=len(keys)).astype(i32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    keys = np.arange(n["orders"], dtype=np.int64)
    out["orders"] = pd.DataFrame({
        "o_orderkey": keys,
        "o_custkey": rng.randint(0, n["customer"], size=len(keys))
        .astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], size=len(keys)),
        "o_totalprice": _money(rng, 1000, 500000, len(keys)),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", len(keys)),
        "o_orderpriority": rng.choice(PRIORITIES, size=len(keys))})
    m = n["lineitem"]
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.randint(0, n["orders"], size=m).astype(np.int64),
        "l_partkey": rng.randint(0, n["part"], size=m).astype(np.int64),
        "l_suppkey": rng.randint(0, n["supplier"], size=m).astype(np.int64),
        "l_linenumber": rng.randint(1, 8, size=m).astype(i32),
        "l_quantity": rng.randint(1, 51, size=m).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, m),
        "l_discount": rng.randint(0, 11, size=m) / 100.0,
        "l_tax": rng.randint(0, 9, size=m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], size=m),
        "l_linestatus": rng.choice(["F", "O"], size=m),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m)})
    m = n["events"]
    gaps = np.maximum(1, rng.exponential(259e6, size=m).astype(np.int64))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(m, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01", "us")
               + np.cumsum(gaps).astype("m8[us]")),
        "user_id": rng.randint(0, n["customer"] // 10, size=m)
        .astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, size=m),
        "value": np.maximum(0.01, np.round(rng.exponential(50, size=m), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, size=m)]})
    out["documents"] = _documents(rng, n["documents"])
    m = n["embeddings"]
    vecs = rng.standard_normal((m, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(m, dtype=np.int64), "embedding": list(vecs),
        "label": rng.randint(0, 10, size=m).astype(i32)})
    return out


def query_tables(seed: int, cache_dir: str) -> str:
    """Directory of ``<table>.parquet`` files at ``seed``, generated on first
    use.  Timestamps are microsecond, time-zone-free, as in the test
    tables."""
    out = os.path.join(cache_dir, f"queries-s{seed}")
    done = os.path.join(out, "_done")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    for table, df in _query_frames(seed).items():
        tab = pa.Table.from_pandas(df, preserve_index=False)
        if table == "embeddings":
            tab = tab.set_column(1, "embedding", pa.array(
                df["embedding"].tolist(), pa.list_(pa.float32())))
        pq.write_table(tab, os.path.join(out, f"{table}.parquet"))
    open(done, "w").close()
    return out
