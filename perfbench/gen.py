"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed, draws from its own
``numpy.random.Generator`` per (seed, generator), writes its inputs under
a directory it is given, and returns the ground truth the workload is
checked against. The same seed
gives byte-identical files; nothing here touches Spark.

- ``yelp_json``: the five Yelp entities as JSON lines, with the dirt the
  reference cleans (``u'..'`` / ``"None"`` attribute strings, nested
  hours, comma-packed checkin timestamps), Zipf-skewed business
  popularity and a few orphan facts.
- ``tpch_tables``: TPC-H-shaped parquet tables plus ``events``, in the
  schema the query catalog reads.
- ``curation_corpus``: documents with planted exact duplicates, k-token
  near duplicates, boilerplate templates and PII, plus embeddings with
  planted near-duplicate clusters and a batch of query vectors.
- ``cdc_feed``: a keyed, partitioned base table and a sequence of small
  insert/update/delete batches on skewed keys, replayed in Python.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ENTITIES = ("business", "review", "user", "checkin", "tip")

_CITIES = [("Springfield", "IL"), ("Shelbyville", "IL"), ("Portland", "OR"),
           ("Austin", "TX"), ("Tampa", "FL"), ("Reno", "NV"), ("Boise", "ID"),
           ("Tucson", "AZ"), ("Madison", "WI"), ("Albany", "NY")]
_CATEGORIES = ["Restaurants", "Cafes", "Bars", "Nightlife", "Pizza", "Coffee & Tea",
               "Breakfast", "Shopping", "Beauty", "Auto Repair", "Mexican",
               "Italian", "Sushi", "Bakeries", "Gyms"]
_DAYS = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday"]
_WORDS = ("good great slow friendly loud clean tasty cold warm cheap pricey "
          "staff coffee service food place again never always table music").split()


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding a stream never
    shifts another stream's draws."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _zipf_choice(rng: np.random.Generator, n: int, size: int, a: float = 1.1) -> np.ndarray:
    """Indices in [0, n) with Zipf(a) popularity over a shuffled order."""
    weights = 1.0 / np.arange(1, n + 1) ** a
    weights /= weights.sum()
    order = rng.permutation(n)
    return order[rng.choice(n, size=size, p=weights)]


def _day(base: dt.date, offset: int) -> str:
    return (base + dt.timedelta(days=int(offset))).isoformat()


def _sentence(rng: np.random.Generator, n: int) -> str:
    return " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), n)).capitalize() + "."


def _write_jsonl(path: str, rows: list[dict]) -> int:
    data = "".join(json.dumps(r, separators=(", ", ": ")) + "\n" for r in rows)
    with open(path, "w") as f:
        f.write(data)
    return len(data.encode())


# ---------------------------------------------------------------- Yelp JSON


def _attributes(rng: np.random.Generator) -> dict | None:
    if rng.random() < 0.08:
        return None
    pick = lambda opts: opts[rng.integers(0, len(opts))]  # noqa: E731
    attrs = {
        "WiFi": pick(["u'free'", "u'no'", "'paid'", "None", "'free'"]),
        "BikeParking": pick(["True", "False", "None"]),
        "Alcohol": pick(["u'none'", "u'full_bar'", "'beer_and_wine'", "None"]),
        "NoiseLevel": pick(["u'quiet'", "u'average'", "'loud'", "None"]),
        "RestaurantsPriceRange2": pick(["1", "2", "3", "4", "None"]),
    }
    if rng.random() < 0.7:
        flags = ", ".join(
            f"'{k}': {pick(['True', 'False', 'None'])}"
            for k in ("garage", "street", "validated", "lot", "valet")
        )
        attrs["BusinessParking"] = "{" + flags + "}"
    else:
        attrs["BusinessParking"] = "None"
    return attrs


def _hours(rng: np.random.Generator) -> dict | None:
    if rng.random() < 0.1:
        return None
    out = {}
    for day in _DAYS:
        if rng.random() < 0.8:
            start = int(rng.integers(6, 12))
            end = int(rng.integers(15, 24))
            out[day] = f"{start}:{int(rng.choice([0, 30]))}-{end}:0"
    return out


# Days from 2010-01-01 that review, tip and checkin dates span: the
# number of ``date_year`` partitions each fact table is written into.
FACT_DAYS = 1095


def yelp_json(seed: int, out_dir: str, n_business: int, n_user: int, n_review: int,
              n_tip: int, n_checkin: int) -> dict:
    """Write ``{entity}.json`` under ``out_dir``; return the ground truth:
    input byte/row counts and the expected row count of every layer."""
    os.makedirs(out_dir, exist_ok=True)
    rng = rng_for(seed, "yelp")
    base = dt.date(2010, 1, 1)
    bids = [f"b{i:07d}" for i in range(n_business)]
    uids = [f"u{i:07d}" for i in range(n_user)]

    business = []
    for i, bid in enumerate(bids):
        city, state = _CITIES[rng.integers(0, len(_CITIES))]
        cats = rng.choice(_CATEGORIES, size=int(rng.integers(1, 4)), replace=False)
        business.append({
            "business_id": bid, "name": f"Place {i}", "address": f"{i} Main St",
            "city": city, "state": state, "postal_code": f"{int(rng.integers(10000, 99999))}",
            "latitude": round(float(rng.uniform(25, 48)), 5),
            "longitude": round(float(rng.uniform(-122, -71)), 5),
            "stars": float(rng.integers(2, 11)) / 2, "review_count": int(rng.integers(0, 500)),
            "is_open": int(rng.random() < 0.8),
            "categories": None if rng.random() < 0.05 else ", ".join(cats),
            "attributes": _attributes(rng), "hours": _hours(rng),
        })

    users = []
    for i, uid in enumerate(uids):
        friends = rng.integers(0, n_user, int(rng.integers(0, 4)))
        row = {
            "user_id": uid, "name": f"User {i}", "review_count": int(rng.integers(0, 300)),
            "yelping_since": _day(base, rng.integers(0, 4000)),
            "useful": int(rng.integers(0, 100)), "funny": int(rng.integers(0, 50)),
            "cool": int(rng.integers(0, 50)), "fans": int(rng.integers(0, 20)),
            "elite": ",".join(str(y) for y in sorted(rng.choice(range(2012, 2022), int(rng.integers(0, 3)), replace=False))),
            "friends": ", ".join(uids[f] for f in friends) if len(friends) else "None",
            "average_stars": round(float(rng.uniform(1, 5)), 2),
        }
        for c in ("hot", "more", "profile", "cute", "list", "note", "plain",
                  "cool", "funny", "writer", "photos"):
            row[f"compliment_{c}"] = int(rng.integers(0, 10))
        users.append(row)

    def fact_keys(n: int) -> tuple[list[str], list[str]]:
        """Zipf-popular businesses, uniform users, ~1% orphans each side."""
        b = [bids[j] for j in _zipf_choice(rng, n_business, n)]
        u = [uids[j] for j in rng.integers(0, n_user, n)]
        for j in np.flatnonzero(rng.random(n) < 0.01):
            b[j] = f"bx{j:07d}"
        for j in np.flatnonzero(rng.random(n) < 0.01):
            u[j] = f"ux{j:07d}"
        return b, u

    rb, ru = fact_keys(n_review)
    reviews = [{
        "review_id": f"r{i:08d}", "user_id": ru[i], "business_id": rb[i],
        "stars": float(rng.integers(1, 6)), "useful": int(rng.integers(0, 6)),
        "funny": int(rng.integers(0, 4)), "cool": int(rng.integers(0, 4)),
        "text": _sentence(rng, int(rng.integers(6, 30))),
        "date": _day(base, rng.integers(0, FACT_DAYS)),
    } for i in range(n_review)]

    tb, tu = fact_keys(n_tip)
    tips = [{
        "user_id": tu[i], "business_id": tb[i], "text": _sentence(rng, int(rng.integers(3, 12))),
        "date": _day(base, rng.integers(0, FACT_DAYS)), "compliment_count": int(rng.integers(0, 4)),
    } for i in range(n_tip)]

    cb, _ = fact_keys(n_checkin)
    checkins, n_checkin_ts = [], 0
    seen = set()
    for i in range(n_checkin):
        if cb[i] in seen:  # one checkin row per business, as in the Yelp dump
            continue
        seen.add(cb[i])
        k = 1 + int(rng.geometric(0.12))
        secs = np.sort(rng.integers(0, FACT_DAYS * 86400, k))
        stamps = [(dt.datetime(2010, 1, 1) + dt.timedelta(seconds=int(s))).strftime("%Y-%m-%d %H:%M:%S")
                  for s in secs]
        n_checkin_ts += k
        checkins.append({"business_id": cb[i], "date": ", ".join(stamps)})

    rows = {"business": business, "user": users, "review": reviews, "tip": tips,
            "checkin": checkins}
    input_bytes = {e: _write_jsonl(os.path.join(out_dir, f"{e}.json"), rows[e]) for e in ENTITIES}

    known_b, known_u = set(bids), set(uids)
    enriched = {
        "user_business_review": sum(r["business_id"] in known_b and r["user_id"] in known_u for r in reviews),
        "business_checkin": sum(c["date"].count(",") + 1 for c in checkins if c["business_id"] in known_b),
        "user_business_tip": sum(t["business_id"] in known_b and t["user_id"] in known_u for t in tips),
    }
    return {
        "input_bytes": sum(input_bytes.values()),
        "input_rows": sum(len(v) for v in rows.values()),
        "bronze": {e: len(rows[e]) for e in ENTITIES},
        "silver": {**{e: len(rows[e]) for e in ENTITIES}, "checkin": n_checkin_ts},
        "enriched": enriched,
    }


# ---------------------------------------------------------------- TPC-H


def _table(path: str, cols: dict) -> int:
    tbl = pa.table(cols)
    pq.write_table(tbl, path)
    return tbl.num_rows


def tpch_tables(seed: int, out_dir: str, sf: float) -> dict:
    """TPC-H-shaped parquet tables (region, nation, customer, supplier,
    part, orders, lineitem, events) at scale factor ``sf``; returns row
    counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = rng_for(seed, "tpch")
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_evt, n_evt_users = int(1_500_000 * sf), int(1_000_000 * sf), int(15_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    ts = pa.timestamp("us")
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    pick = lambda opts, n: np.array(opts, dtype=object)[rng.integers(0, len(opts), n)]  # noqa: E731

    counts = {}
    counts["region"] = _table(os.path.join(out_dir, "region.parquet"), {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    counts["nation"] = _table(os.path.join(out_dir, "nation.parquet"), {
        "n_nationkey": pa.array(range(25), i32), "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    counts["customer"] = _table(os.path.join(out_dir, "customer.parquet"), {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    counts["supplier"] = _table(os.path.join(out_dir, "supplier.parquet"), {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
    noun = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
    counts["part"] = _table(os.path.join(out_dir, "part.parquet"), {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(["LARGE", "ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 11000) / 10, 2)})

    day0 = np.datetime64("1995-01-01", "us")
    order_days = rng.integers(0, 2404, n_ord)  # through 2001-08-01
    counts["orders"] = _table(os.path.join(out_dir, "orders.parquet"), {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": pa.array(day0 + order_days.astype("timedelta64[D]"), ts),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})

    lines_per = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord), lines_per)
    n_li = len(l_ord)
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    ship = order_days[l_ord] + rng.integers(1, 122, n_li)
    counts["lineitem"] = _table(os.path.join(out_dir, "lineitem.parquet"), {
        "l_orderkey": pa.array(l_ord, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": pa.array(day0 + ship.astype("timedelta64[D]"), ts)})

    evt_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_evt))
    counts["events"] = _table(os.path.join(out_dir, "events.parquet"), {
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + evt_us.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, n_evt_users, n_evt), i64),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_evt),
        "value": np.round(rng.exponential(40.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    return counts


# ---------------------------------------------------------------- curation

_STOP = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"]


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    syll = ["ka", "lo", "mi", "ner", "sto", "va", "pre", "tor", "qui", "zen",
            "dal", "ro", "ble", "fin", "gar", "hu", "jo", "ple", "wex", "yu"]
    words = set()
    while len(words) < n:
        words.add("".join(syll[i] for i in rng.integers(0, len(syll), int(rng.integers(2, 4)))))
    return sorted(words)


def _doc_tokens(rng: np.random.Generator, vocab: list[str], n: int) -> list[str]:
    content = rng.zipf(1.3, n) % len(vocab)
    stop = rng.random(n) < 0.3
    return [_STOP[int(rng.integers(0, len(_STOP)))] if s else vocab[c]
            for c, s in zip(content, stop)]


def _render(tokens: list[str]) -> str:
    """Tokens → sentences of 12 words."""
    out = []
    for i in range(0, len(tokens), 12):
        out.append(" ".join(tokens[i:i + 12]).capitalize() + ".")
    return " ".join(out)


def curation_corpus(seed: int, out_dir: str, n_docs: int, n_vectors: int, dim: int,
                    n_queries: int) -> dict:
    """Write ``documents.parquet``, ``embeddings.parquet`` and
    ``queries.parquet``; return the planted truth: duplicate clusters
    (doc ids, canonical first), PII doc ids, and the exact cosine top-10
    of every query."""
    os.makedirs(out_dir, exist_ok=True)
    rng = rng_for(seed, "curation")
    vocab = _vocabulary(rng, 3000)
    templates = [_doc_tokens(rng, vocab, 25) for _ in range(4)]
    docs: list[tuple[str, str, str]] = []  # (text, lang, source)
    clusters: list[list[int]] = []
    pii_docs: list[int] = []

    def add(text: str, lang: str = "en") -> int:
        docs.append((text, lang, f"src{len(docs) % 2}"))
        return len(docs) - 1

    n_base = int(n_docs * 0.75)
    for i in range(n_base):
        toks = _doc_tokens(rng, vocab, int(rng.integers(90, 160)))
        if rng.random() < 0.06:  # PII sprinkled into single docs
            pos = int(rng.integers(0, len(toks)))
            toks.insert(pos, f"user{i}@example.com call 555-{i % 100:02d}-{1000 + i % 9000}")
            pii_docs.append(len(docs))
        if rng.random() < 0.04:
            add(_render(toks), lang=str(rng.choice(["de", "fr"])))
            continue
        cid = add(_render(toks))
        r = rng.random()
        if r < 0.10:  # exact copies
            clusters.append([cid] + [add(docs[cid][0]) for _ in range(int(rng.integers(1, 3)))])
        elif r < 0.22:  # near copies: k-token substitutions
            members = [cid]
            for _ in range(int(rng.integers(1, 3))):
                edited = list(toks)
                for p in rng.integers(0, len(edited), int(rng.integers(1, 4))):
                    edited[p] = vocab[int(rng.integers(0, len(vocab)))]
                members.append(add(_render(edited)))
            clusters.append(members)
    # Boilerplate: a shared header and footer around a unique body. The
    # shared part is too small a share of the document to make two such
    # documents near duplicates, so dedup must keep them.
    while len(docs) < n_docs:
        t = templates[int(rng.integers(0, len(templates)))]
        add(_render(t[:15] + _doc_tokens(rng, vocab, 100) + t[15:]))

    perm = rng.permutation(len(docs))  # doc ids do not reveal planting order
    doc_id = np.empty(len(docs), dtype=np.int64)
    doc_id[perm] = np.arange(len(docs))
    texts = [d[0] for d in docs]
    pq.write_table(pa.table({
        "doc_id": pa.array(doc_id, pa.int64()), "text": texts,
        "lang": [d[1] for d in docs], "source": [d[2] for d in docs],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))

    centers = rng.normal(size=(n_vectors // 20, dim))
    n_clustered = (n_vectors // 20) * 12
    members = np.repeat(np.arange(len(centers)), 12)
    vecs = np.concatenate([
        centers[members] + rng.normal(scale=0.08, size=(n_clustered, dim)),
        rng.normal(size=(n_vectors - n_clustered, dim)),
    ]).astype(np.float32)
    vec_ids = rng.permutation(n_vectors).astype(np.int64)
    q_centers = rng.choice(len(centers), n_queries, replace=False)
    queries = (centers[q_centers] + rng.normal(scale=0.08, size=(n_queries, dim))).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(vec_ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(np.concatenate([members, np.full(n_vectors - n_clustered, -1)]), pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))
    q_ids = np.arange(10**9, 10**9 + n_queries, dtype=np.int64)
    pq.write_table(pa.table({
        "vec_id": pa.array(q_ids, pa.int64()),
        "embedding": pa.array(list(queries), pa.list_(pa.float32())),
    }), os.path.join(out_dir, "queries.parquet"))

    v64, q64 = vecs.astype(np.float64), queries.astype(np.float64)
    sims = (q64 @ v64.T) / np.outer(np.linalg.norm(q64, axis=1), np.linalg.norm(v64, axis=1))
    top10 = {int(q): [int(vec_ids[j]) for j in np.lexsort((vec_ids, -np.round(sims[i], 4)))[:10]]
             for i, q in enumerate(q_ids)}
    return {
        "n_docs": len(docs),
        "input_bytes": sum(len(t.encode()) for t in texts) + vecs.nbytes,
        "dup_clusters": [sorted(int(doc_id[m]) for m in c) for c in clusters],
        "pii_docs": sorted(int(doc_id[d]) for d in pii_docs),
        "top10": top10,
    }


# ---------------------------------------------------------------- CDC

CDC_PARTITIONS = 8


def cdc_feed(seed: int, out_dir: str, n_base: int, n_batches: int, batch_size: int) -> dict:
    """Write ``base.parquet`` and ``batch_{i:04d}.parquet`` change batches.

    Rows are ``(id, part, name, amount_cents, seq, deleted)``; ``part``
    is derived from ``id`` so a key never moves partition. A delete is
    a tombstone upsert (``deleted=true``). Inserts take fresh ids,
    updates and deletes pick Zipf-skewed live ids. Returns the input
    sizes, the live row count and amount total after each batch, and the
    replayed SHA-256 of the live final table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = rng_for(seed, "cdc")
    table: dict[int, tuple] = {}

    def row(key: int, seq: int, deleted: bool = False) -> tuple:
        return (key, key % CDC_PARTITIONS, f"name-{int(rng.integers(0, 10**6))}",
                int(rng.integers(0, 10**7)), seq, deleted)

    def write(path: str, rows: list[tuple]) -> int:
        cols = list(zip(*rows))
        pq.write_table(pa.table({
            "id": pa.array(cols[0], pa.int64()), "part": pa.array(cols[1], pa.int32()),
            "name": pa.array(cols[2], pa.string()), "amount_cents": pa.array(cols[3], pa.int64()),
            "seq": pa.array(cols[4], pa.int64()), "deleted": pa.array(cols[5], pa.bool_()),
        }), path)
        return os.path.getsize(path)

    for k in range(n_base):
        table[k] = row(k, 0)
    base_bytes = write(os.path.join(out_dir, "base.parquet"), list(table.values()))
    next_key, batch_bytes, batch_rows, after = n_base, 0, 0, []
    live = np.arange(n_base)
    for b in range(n_batches):
        seq = b + 1
        changes: dict[int, tuple] = {}
        n_ins = batch_size // 4
        for _ in range(n_ins):
            changes[next_key] = row(next_key, seq)
            next_key += 1
        picks = live[_zipf_choice(rng, len(live), batch_size - n_ins, a=1.05)]
        deletes = rng.random(len(picks)) < 0.2
        for key, dele in zip(picks.tolist(), deletes.tolist()):
            changes[key] = row(key, seq, deleted=dele)
        batch = sorted(changes.values())
        batch_bytes += write(os.path.join(out_dir, f"batch_{b:04d}.parquet"), batch)
        batch_rows += len(batch)
        table.update({r[0]: r for r in batch})
        live = np.array(sorted(k for k, r in table.items() if not r[5]))
        after.append((len(live), sum(table[k][3] for k in live.tolist())))
    return {
        "n_base": n_base,
        "base_bytes": base_bytes,
        "batch_bytes": batch_bytes,
        "batch_rows": batch_rows,
        "after_batch": after,  # (live rows, sum of amount_cents) after each batch
        "final_hash": table_hash(r for r in table.values() if not r[5]),
    }


def table_hash(rows) -> str:
    """SHA-256 over the sorted ``id|part|name|amount_cents|seq`` lines."""
    lines = sorted(f"{r[0]}|{r[1]}|{r[2]}|{r[3]}|{r[4]}" for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()
