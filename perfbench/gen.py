"""Seeded input generators for the benchmark workloads.

Every input is made here from the workload seed with the standard library
and pyarrow only, never with the package's own writers: a change to
``io.outputs.write_warc`` or the table write path cannot change what the
benchmark feeds the program. The same seed gives byte-identical files
(``digest`` checks that in the self-tests).

- ``tables``      the ten suite tables (TPC-H-like star schema plus
                  ``events``, ``documents`` and ``embeddings``), with the
                  schemas and value ranges of the sf-scaled test tables.
- ``warc_corpus`` WARC response records: half the shards are gzip members
                  (``.warc.gz``), half pyarrow zstd frames (``.warc.zst``),
                  one member or frame per record. A known share of pages
                  are exact or near duplicates of an earlier page, and
                  URLs spread over many registered domains under many
                  public suffixes.
- ``entity_ops``  the seeded op mix the entity-table probe replays.
"""

from __future__ import annotations

import datetime as _dt
import gzip
import hashlib
import os
import random
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: the 30-word vocabulary of the test tables' ``documents.text``
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)

# Public suffixes of one, two and three labels, so registered-domain
# extraction has real PSL work to do (one suffix collapses every URL
# into a handful of domains).
SUFFIXES = ("com", "org", "net", "io", "de", "fr", "co.uk", "org.uk",
            "com.au", "co.jp", "com.br", "ac.uk", "edu.au", "gov.uk",
            "github.io", "blogspot.com", "nom.br", "k12.ca.us")
HOST_PREFIXES = ("www", "blog", "news", "shop", "docs")

_UTC = _dt.timezone.utc
_EPOCH_US = {
    "order": int(_dt.datetime(1995, 1, 1, tzinfo=_UTC).timestamp()) * 10**6,
    "ship": int(_dt.datetime(1995, 1, 2, tzinfo=_UTC).timestamp()) * 10**6,
    "event": int(_dt.datetime(2024, 1, 1, tzinfo=_UTC).timestamp()) * 10**6,
}
_DAY_US = 86_400 * 10**6


class _Rng:
    """Column-at-a-time uniform draws: ``pc.random`` seeded per column,
    so adding a column never shifts the values of another."""

    def __init__(self, seed: int):
        self.seed = seed
        self.n_cols = 0

    def uniform(self, n: int) -> pa.Array:
        self.n_cols += 1
        return pc.random(n, initializer=self.seed * 1_000_003 + self.n_cols)

    def ints(self, n: int, lo: int, hi: int) -> pa.Array:
        """Integers uniform in [lo, hi)."""
        u = pc.floor(pc.multiply(self.uniform(n), float(hi - lo)))
        return pc.add(pc.cast(u, pa.int64()), lo)

    def money(self, n: int, lo: float, hi: float) -> pa.Array:
        return pc.round(pc.add(pc.multiply(self.uniform(n), hi - lo), lo), 2)

    def choice(self, n: int, values) -> pa.Array:
        return pa.array(values).take(self.ints(n, 0, len(values)))


def _write(out_dir: str, name: str, cols: dict) -> int:
    path = os.path.join(out_dir, f"{name}.parquet")
    table = pa.table(cols)
    pq.write_table(table, path, compression="snappy")
    return table.num_rows


def _doc_texts(rng: random.Random, n: int) -> list[str]:
    """``n`` texts of 10-100 vocabulary words. Every 20th document is a
    near duplicate of an earlier one (its text plus the word ``dup``);
    a few are exact copies."""
    texts: list[str] = []
    for i in range(n):
        if i >= 40 and i % 20 == 0:
            texts.append(texts[rng.randrange(i)].rstrip() + " dup")
        elif i >= 40 and i % 625 == 1:
            texts.append(texts[rng.randrange(i)])
        else:
            k = rng.randint(10, 100)
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(k)) + " ")
    return texts


def tables(out_dir: str, seed: int, sf: float = 0.1) -> dict:
    """Write the ten suite tables at scale factor ``sf`` under
    ``out_dir``; return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _Rng(seed)
    py = random.Random(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    rows = {}
    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pc.cast(rng.ints(n_cust, 0, 25), pa.int32()),
        "c_acctbal": rng.money(n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(n_cust, ["AUTOMOBILE", "BUILDING",
                                            "FURNITURE", "HOUSEHOLD",
                                            "MACHINERY"])})
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pc.cast(rng.ints(n_supp, 0, 25), pa.int32()),
        "s_acctbal": rng.money(n_supp, -999.99, 9999.99)})
    adjectives = ["red", "new", "hot", "small", "large", "cold", "old", "blue"]
    nouns = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": rng.choice(n_part, [f"{a} {b}" for a in adjectives
                                      for b in nouns]),
        "p_brand": rng.choice(n_part, [f"Brand#{i}" for i in range(1, 26)]),
        "p_type": rng.choice(n_part, ["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                      "SMALL", "STANDARD"]),
        "p_size": pc.cast(rng.ints(n_part, 1, 51), pa.int32()),
        "p_retailprice": pa.array([900 + (i % 1000) / 10
                                   for i in range(n_part)])})
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": rng.ints(n_ord, 0, n_cust),
        "o_orderstatus": rng.choice(n_ord, ["F", "O", "P"]),
        "o_totalprice": rng.money(n_ord, 1000.0, 500_000.0),
        "o_orderdate": pc.cast(pc.add(pc.multiply(rng.ints(n_ord, 0, 2404),
                                                  _DAY_US),
                                      _EPOCH_US["order"]),
                               pa.timestamp("us")),
        "o_orderpriority": rng.choice(n_ord, ["1-URGENT", "2-HIGH",
                                              "3-MEDIUM", "4-NOT SPECIFIED",
                                              "5-LOW"])})
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": rng.ints(n_line, 0, n_ord),
        "l_partkey": rng.ints(n_line, 0, n_part),
        "l_suppkey": rng.ints(n_line, 0, n_supp),
        "l_linenumber": pc.cast(rng.ints(n_line, 1, 8), pa.int32()),
        "l_quantity": pc.cast(rng.ints(n_line, 1, 51), pa.float64()),
        "l_extendedprice": rng.money(n_line, 900.0, 105_000.0),
        "l_discount": pc.divide(pc.cast(rng.ints(n_line, 0, 11), pa.float64()),
                                100.0),
        "l_tax": pc.divide(pc.cast(rng.ints(n_line, 0, 9), pa.float64()),
                           100.0),
        "l_returnflag": rng.choice(n_line, ["A", "N", "R"]),
        "l_linestatus": rng.choice(n_line, ["F", "O"]),
        "l_shipdate": pc.cast(pc.add(pc.multiply(rng.ints(n_line, 0, 2498),
                                                 _DAY_US),
                                     _EPOCH_US["ship"]),
                              pa.timestamp("us"))})
    slot_us = 30 * _DAY_US // n_ev
    rows["events"] = _write(out_dir, "events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        # increasing with event_id over 30 days, as in the test tables
        "ts": pc.cast(pc.add(pc.multiply(pa.array(range(n_ev), pa.int64()),
                                         slot_us),
                             pc.add(rng.ints(n_ev, 0, slot_us),
                                    _EPOCH_US["event"])),
                      pa.timestamp("us")),
        "user_id": rng.ints(n_ev, 0, n_users),
        "event_type": rng.choice(n_ev, ["click", "error", "purchase",
                                        "signup", "view"]),
        "value": rng.money(n_ev, 0.0, 560.0),
        "props": rng.choice(n_ev, [f'{{"k": {k}}}' for k in range(100)])})
    texts = _doc_texts(py, n_docs)
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": py.choices(LANGS, LANG_WEIGHTS, k=n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centroids = [[py.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    labels, vecs = [], []
    for _ in range(n_emb):
        lab = py.randrange(10)
        v = [c + py.gauss(0, 0.8) for c in centroids[lab]]
        norm = sum(x * x for x in v) ** 0.5
        labels.append(lab)
        vecs.append([x / norm for x in v])
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return rows


def _pages(py: random.Random, n: int, n_domains: int) -> list[dict]:
    """``n`` HTML pages over ``n_domains`` registered domains. Every 12th
    page repeats an earlier page's body under its own URL (exact
    duplicate), every 12th page offset by 6 repeats it with one word
    appended (near duplicate)."""
    domains = [f"site{d}.{SUFFIXES[d % len(SUFFIXES)]}"
               for d in range(n_domains)]
    pages: list[dict] = []
    for i in range(n):
        domain = domains[py.randrange(n_domains)]
        host = f"{HOST_PREFIXES[py.randrange(len(HOST_PREFIXES))]}.{domain}"
        url = f"http://{host}/p/{i}/{py.choice(VOCAB)}.html"
        dup_of, kind = None, "unique"
        if i >= 24 and i % 12 == 0:
            dup_of, kind = py.randrange(i), "exact"
        elif i >= 24 and i % 12 == 6:
            dup_of, kind = py.randrange(i), "near"
        if dup_of is not None:
            while pages[dup_of]["dup_of"] is not None:
                dup_of = pages[dup_of]["dup_of"]
            paras = list(pages[dup_of]["paras"])
            if kind == "near":
                paras[-1] = paras[-1] + " " + py.choice(VOCAB)
        else:
            paras = [" ".join(py.choice(VOCAB) for _ in range(py.randint(25, 60)))
                     for _ in range(py.randint(2, 4))]
        pages.append({"url": url, "domain": domain, "paras": paras,
                      "dup_of": dup_of, "kind": kind})
    return pages


def warc_record(page: dict, i: int, seed: int) -> bytes:
    """The bytes of page ``i``'s WARC response record."""
    body = ("<!DOCTYPE html><html><head><title>"
            + page["paras"][0][:40] + "</title></head><body>"
            + "".join(f"<p>{p}</p>" for p in page["paras"])
            + "</body></html>").encode()
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
            + f"Content-Length: {len(body)}\r\n\r\n".encode() + body)
    rid = uuid.UUID(int=(seed << 64) | i)
    head = ("WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Target-URI: {page['url']}\r\n"
            f"WARC-Date: 2024-02-{1 + i % 28:02d}T00:00:00Z\r\n"
            f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
            "Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(http)}\r\n\r\n").encode()
    return head + http + b"\r\n\r\n"


def warc_corpus(out_dir: str, seed: int, n_docs: int, n_shards: int = 8,
                n_domains: int = 400) -> dict:
    """Write ``n_shards`` WARC shards of ``n_docs`` response records under
    ``out_dir``: even shards as ``.warc.gz`` (one gzip member per record),
    odd shards as ``.warc.zst`` (one pyarrow zstd frame per record).
    Returns the manifest the correctness check reads: every page (URL,
    paragraphs, duplicate kind and original), the uncompressed and stored
    byte counts, and the registered-domain and suffix counts."""
    os.makedirs(out_dir, exist_ok=True)
    py = random.Random(seed)
    pages = _pages(py, n_docs, n_domains)
    raw_bytes = stored_bytes = 0
    for s in range(n_shards):
        ext = ".warc.gz" if s % 2 == 0 else ".warc.zst"
        with open(os.path.join(out_dir, f"shard-{s:03d}{ext}"), "wb") as f:
            for i in range(s, n_docs, n_shards):
                rec = warc_record(pages[i], i, seed)
                raw_bytes += len(rec)
                if ext == ".warc.gz":
                    blob = gzip.compress(rec, compresslevel=6, mtime=0)
                else:
                    blob = pa.compress(rec, codec="zstd", asbytes=True)
                stored_bytes += len(blob)
                f.write(blob)
    kinds = [p["kind"] for p in pages]
    return {
        "n_docs": n_docs,
        "n_shards": n_shards,
        "raw_bytes": raw_bytes,
        "stored_bytes": stored_bytes,
        "n_domains": len({p["domain"] for p in pages}),
        "n_suffixes": len({p["domain"].split(".", 1)[1] for p in pages}),
        "exact_dup_share": kinds.count("exact") / n_docs,
        "near_dup_share": kinds.count("near") / n_docs,
        "pages": pages,
    }


#: one cycle of the entity-table op mix: reads, buffered and direct
#: writes, a flush, a producer pass and a full scan
OP_CYCLE = ("get", "put_delta", "get", "put_delta", "get", "flush_deltas",
            "get", "merge_put", "fresh_get", "produce", "get", "count")


def entity_ops(seed: int, n_users: int, n_cycles: int,
               batch: int = 20) -> list[tuple]:
    """The seeded op mix: ``n_cycles`` repetitions of ``OP_CYCLE``. Each
    op is ``(kind, payload)``; a put payload is a list of
    ``(key, family, qualifier, ts, value)`` cells, a get payload a key."""
    py = random.Random(seed)
    ops: list[tuple] = []
    ts = 2_000_000
    for _ in range(n_cycles):
        for kind in OP_CYCLE:
            if kind in ("get", "fresh_get"):
                ops.append((kind, f"user{py.randrange(n_users):05d}"))
            elif kind in ("put_delta", "merge_put"):
                cells = []
                for _ in range(batch):
                    ts += 1
                    key = f"user{py.randrange(n_users):05d}"
                    if py.random() < 0.5:
                        cells.append((key, "info", "visits", ts,
                                      str(py.randrange(10_000))))
                    else:
                        cells.append((key, "tags", py.choice(VOCAB), ts,
                                      py.choice(VOCAB)))
                ops.append((kind, cells))
            else:
                ops.append((kind, None))
    return ops


def digest(path: str) -> str:
    """sha256 over every file under ``path`` (names and bytes, sorted)."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
