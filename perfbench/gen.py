"""Seeded input generators for the benchmark.

Both generators are pure functions of their seed: the same seed writes
byte-identical files, another seed writes different ones.

- ``corpus``: the ``documents``/``embeddings`` tables rewritten with
  graft.ScaleCorpus's replica construction, keyed by the seed. Every token
  w becomes ``w<seed>`` and coordinate i of every vector is negated when
  bit 0 of Spark's ``xxhash64(seed, i)`` is set. Seed 0 is the source
  verbatim. The rewrite keeps the duplicate structure and every inner
  product, and moves every hash bucket and LSH candidate set. Each table is
  written like the source: one parquet file with one row group.
- ``fixtures``: offline HTTP fixtures for the ingest spine, one metadata
  body per item and one artifact body per provider, plus ``manifest.json``
  with the batches and the counts ``Runner.run`` must report for each.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

M64 = (1 << 64) - 1
P1, P2, P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
P5 = 0x27D4EB2F165667C5


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & M64


def _hash_int(v, seed):
    """Spark's XXH64.hashInt (the per-column step of ``xxhash64``)."""
    h = (seed + P5 + 4) & M64
    h ^= ((v & 0xFFFFFFFF) * P1) & M64
    h = (_rotl(h, 23) * P2 + P3) & M64
    h ^= h >> 33
    h = (h * P2) & M64
    h ^= h >> 29
    h = (h * P3) & M64
    return h ^ (h >> 32)


def spark_xxhash64_ints(*values):
    """``xxhash64(v1, v2, ...)`` over int columns, as an unsigned 64-bit value."""
    h = 42
    for v in values:
        h = _hash_int(v, h)
    return h


def _write_one_row_group(table, path):
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def corpus(src_dir, out_dir, seed):
    """Rewrite documents/embeddings from ``src_dir`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    docs = pq.read_table(os.path.join(src_dir, "documents.parquet"))
    if seed != 0:
        suffix = f"<{seed}>"
        texts = [" ".join(w + suffix for w in t.strip(" ").split(" ") if w != "")
                 for t in docs.column("text").to_pylist()]
        docs = docs.set_column(docs.schema.get_field_index("text"), "text",
                               pa.array(texts, pa.string()))
        docs = docs.set_column(docs.schema.get_field_index("n_chars"), "n_chars",
                               pa.array([len(t) for t in texts], pa.int64()))
    _write_one_row_group(docs, os.path.join(out_dir, "documents.parquet"))

    emb = pq.read_table(os.path.join(src_dir, "embeddings.parquet"))
    if seed != 0:
        col = emb.column("embedding").combine_chunks()
        offsets = col.offsets.to_numpy()
        lengths = np.diff(offsets)
        pos = np.arange(offsets[-1] - offsets[0]) - np.repeat(offsets[:-1] - offsets[0], lengths)
        signs = np.array([-1.0 if spark_xxhash64_ints(seed, i) & 1 else 1.0
                          for i in range(int(lengths.max(initial=0)))], np.float32)
        flat = col.flatten().to_numpy(zero_copy_only=False) * signs[pos]
        emb = emb.set_column(emb.schema.get_field_index("embedding"), "embedding",
                             pa.ListArray.from_arrays(col.offsets, pa.array(flat, pa.float32())))
    _write_one_row_group(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"docs": docs.num_rows, "vectors": emb.num_rows,
            "input_bytes": sum(os.path.getsize(os.path.join(out_dir, f))
                               for f in ("documents.parquet", "embeddings.parquet"))}


SEC, APS = "sec_edgar", "nrc_adams_aps"
ARTIFACT_NAME = {SEC: "artifact.htm", APS: "document.pdf"}
MALFORMED_SHARE = 0.05
BULK_REPEAT_SHARE = 0.1
INCREMENTAL_REPEAT_SHARE = 0.5


def _item(rng, provider, uid):
    """One unique work item: its params, metadata body and artifact URL."""
    entries = int(2 ** rng.uniform(0, 7))  # 1-128 filings: bodies of ~0.1-16 KB
    if provider == SEC:
        cik10 = f"{1000000 + uid:010d}"
        accs = [f"{cik10}-{rng.randrange(10, 26)}-{rng.randrange(10 ** 6):06d}"
                for _ in range(entries)]
        docs = [f"doc{uid}-{j}.htm" for j in range(entries)]
        body = {"cik": str(int(cik10)), "name": f"Registrant {uid}",
                "filings": {"recent": {"accessionNumber": accs, "primaryDocument": docs,
                                       "form": ["10-K"] * entries}}}
        params = {"cik10": cik10}
        url = (f"https://www.sec.gov/Archives/edgar/data/{int(cik10)}/"
               f"{accs[0].replace('-', '')}/{docs[0]}")
    else:
        accs = [f"ML{rng.randrange(10, 26)}{uid:05d}A{j:03d}" for j in range(entries)]
        body = {"results": [{"accessionNumber": a, "title": f"Docket {uid} item {j}",
                             "pdfUrl": f"https://api.nrc.gov/adamswebsearch/download/{a}.pdf"}
                            for j, a in enumerate(accs)]}
        params = {"query": f"reactor {uid}"}
        url = body["results"][0]["pdfUrl"]
    raw = json.dumps(body, indent=1).encode()
    malformed = rng.random() < MALFORMED_SHARE
    if malformed:
        raw = raw[: len(raw) // 2]
    params["fixture"] = f"meta/{uid:06d}.json"
    return {"params": json.dumps(params, sort_keys=True), "fixture": params["fixture"], "body": raw,
            "malformed": malformed, "url": url}


def fixtures(out_dir, seed, sizes):
    """Write fixtures and the manifest. ``sizes`` gives items per batch:
    ``cold`` and ``warm`` (200-item warm-up calls), ``bulk`` and
    ``incremental`` (per provider shape)."""
    rng = random.Random(seed)
    uid = [0]
    artifact = {}
    for p in (SEC, APS):
        n = rng.randrange(16_000, 48_000)
        head = b"<html><body>" if p == SEC else b"%PDF-1.4\n"
        artifact[p] = head + bytes(rng.randrange(32, 127) for _ in range(n))
        os.makedirs(os.path.join(out_dir, p, "meta"), exist_ok=True)
        with open(os.path.join(out_dir, p, ARTIFACT_NAME[p]), "wb") as f:
            f.write(artifact[p])

    def fresh(p, n):
        out = []
        for _ in range(n):
            it = _item(rng, p, uid[0])
            uid[0] += 1
            with open(os.path.join(out_dir, p, it["fixture"]), "wb") as f:
                f.write(it["body"])
            out.append(it)
        return out

    def with_repeats(p, n, share, pool):
        """n items, a ``share`` of them drawn from ``pool`` (or from the
        batch's own earlier items when ``pool`` is None)."""
        items = []
        new = fresh(p, n - int(n * share))
        if pool is None:
            items = list(new)
            for _ in range(n - len(new)):
                items.insert(rng.randrange(1, len(items) + 1), items[rng.randrange(len(items))])
        else:
            items = new + [pool[rng.randrange(len(pool))] for _ in range(n - len(new))]
            rng.shuffle(items)
        return items

    def batch(name, p, items, stored_urls):
        ok = [it for it in items if not it["malformed"]]
        new_urls = {it["url"] for it in ok} - stored_urls
        stored_urls |= new_urls
        fetched = sum(len(it["body"]) for it in items) + len(ok) * len(artifact[p])
        return {"name": name, "provider": p, "items": [it["params"] for it in items],
                "expect": {"attempts": len(items) + len(ok), "responses": len(items) + len(ok),
                           "artifacts": len(new_urls), "parse_errors": len(items) - len(ok),
                           "fetched_bytes": fetched}}

    batches, stats = [], {"items": 0, "malformed": 0, "repeats": 0}
    batches.append(batch("cold", SEC, fresh(SEC, sizes["cold"]), set()))
    batches.append(batch("warm", APS, fresh(APS, sizes["warm"]), set()))
    for p in (SEC, APS):
        stored = set()
        bulk = with_repeats(p, sizes["bulk"], BULK_REPEAT_SHARE, None)
        incr = with_repeats(p, sizes["incremental"], INCREMENTAL_REPEAT_SHARE, bulk)
        batches.append(batch(f"bulk.{p}", p, bulk, stored))
        batches.append(batch(f"incremental.{p}", p, incr, stored))
        seen = set()
        for it in bulk + incr:
            stats["items"] += 1
            stats["malformed"] += it["malformed"]
            stats["repeats"] += it["params"] in seen
            seen.add(it["params"])
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump({"seed": seed, "batches": batches}, f, sort_keys=True)
    fixture_bytes = sum(os.path.getsize(os.path.join(d, n))
                        for d, _, ns in os.walk(out_dir) for n in ns)
    return {"items": stats["items"], "unique_items": uid[0], "fixture_bytes": fixture_bytes,
            "artifact_bytes": {p: len(b) for p, b in artifact.items()},
            "malformed_share": stats["malformed"] / stats["items"],
            "repeat_share": stats["repeats"] / stats["items"]}
