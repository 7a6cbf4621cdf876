"""Seeded input generator of the benchmark's three workloads.

Everything is derived from the read-only sf0.1 corpus and the workload
seed; the same seed gives the same files. Inputs are written under one
fresh directory per run, which the caller removes afterwards.

    copy    src/<table>.parquet/     every sf0.1 table, rows in seeded order,
                                     split over nproc to 2*nproc-1 seeded files
            derby_orders.parquet     a seeded tenth of orders (upper-case
                                     column names), loaded into embedded Derby
            inc_src/events.parquet/  the first half of events; rounds append
                                     seeded deltas
    curate  corpus/, warmup/         documents + embeddings: each base row
                                     plus a variant with token edits at a
                                     seeded rate (embeddings jittered); the
                                     warm-up corpus is a tenth of the size
            <corpus>/planted_pairs.parquet  base id, variant id, edit rate and
                                     word-3-shingle Jaccard of every variant
            <corpus>/planted_vectors.parquet  base and jittered variant vec_id
    lake    orders_initial.parquet   three quarters of orders (seeded)
            orders_pool.parquet      the rest, in seeded order: the append pool
"""
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SF_TABLES = ("region", "nation", "supplier", "customer", "part", "orders",
             "lineitem", "events", "documents", "embeddings")
EDIT_RATES = (0.0, 0.02, 0.05, 0.1, 0.2, 0.4)
BASE_DOCS = 1000
BASE_VECTORS = 500
WARMUP_SHRINK = 10
VARIANT_STRIDE = 1_000_000


def rng(seed, tag):
    return np.random.default_rng([seed, zlib.crc32(tag.encode())])


def write_split(table, path, files):
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def permuted(table, r):
    return table.take(pa.array(r.permutation(table.num_rows)))


def copy(sf, out, seed):
    # the seed picks which rows land in which file, not how many files there
    # are: the file count sets the scans' task count and waves, a seed effect
    # larger than most code changes
    cores = os.cpu_count()
    for t in SF_TABLES:
        r = rng(seed, t)
        write_split(permuted(pq.read_table(os.path.join(sf, f"{t}.parquet")), r),
                    os.path.join(out, "src", f"{t}.parquet"), cores)
    orders = pq.read_table(os.path.join(sf, "orders.parquet"))
    r = rng(seed, "derby")
    subset = orders.filter(pa.array(r.random(orders.num_rows) < 0.1))
    pq.write_table(subset.rename_columns([c.upper() for c in subset.column_names]),
                   os.path.join(out, "derby_orders.parquet"))
    events = pq.read_table(os.path.join(sf, "events.parquet"))
    first = events.filter(pc.less(events["event_id"], 50000))
    write_split(permuted(first, rng(seed, "inc")), os.path.join(out, "inc_src", "events.parquet"), 2)


def shingles(words):
    return {tuple(words[i:i + 3]) for i in range(len(words) - 2)}


def jaccard(a, b):
    x, y = shingles(a), shingles(b)
    u = len(x | y)
    return len(x & y) / u if u else 0.0


def edit(words, rate, vocab, r):
    """Token edits at `rate`: each position is substituted, dropped, or
    followed by an inserted word."""
    out = []
    for w in words:
        if r.random() >= rate:
            out.append(w)
            continue
        op = r.integers(3)
        if op == 0:
            out.append(vocab[r.integers(len(vocab))])
        elif op == 2:
            out += [w, vocab[r.integers(len(vocab))]]
    return out if len(out) >= 3 else list(words)


def corpus(sf, out, seed, base_docs, base_vectors):
    """A near-duplicate corpus: each base row plus one seeded variant, so
    distinct near-duplicates grow with the corpus instead of collapsing
    under exact dedup."""
    os.makedirs(out)
    r = rng(seed, f"corpus{base_docs}")
    docs = pq.read_table(os.path.join(sf, "documents.parquet")).sort_by("doc_id").slice(0, base_docs)
    rows = docs.to_pylist()
    vocab = sorted({w for d in rows for w in d["text"].split(" ")})
    variants, planted = [], []
    for d in rows:
        words = d["text"].split(" ")
        rate = EDIT_RATES[r.integers(len(EDIT_RATES))]
        new = edit(words, rate, vocab, r)
        vid = VARIANT_STRIDE + d["doc_id"]
        text = " ".join(new)
        variants.append(dict(d, doc_id=vid, text=text, n_chars=len(text)))
        planted.append({"base": d["doc_id"], "variant": vid, "rate": rate, "jaccard": jaccard(words, new)})
    allrows = rows + variants
    order = r.permutation(len(allrows))
    pq.write_table(pa.Table.from_pylist([allrows[i] for i in order], schema=docs.schema),
                   os.path.join(out, "documents.parquet"))
    pq.write_table(pa.Table.from_pylist(planted), os.path.join(out, "planted_pairs.parquet"))

    emb = pq.read_table(os.path.join(sf, "embeddings.parquet")).sort_by("vec_id").slice(0, base_vectors)
    vecs = np.array(emb["embedding"].to_pylist(), dtype=np.float32)
    rms = np.sqrt((vecs.astype(np.float64) ** 2).mean(axis=1, keepdims=True))
    jittered = (vecs + r.normal(size=vecs.shape) * 0.02 * rms).astype(np.float32)
    ids = np.concatenate([emb["vec_id"].to_numpy(), emb["vec_id"].to_numpy() + VARIANT_STRIDE])
    labels = np.concatenate([emb["label"].to_numpy(), emb["label"].to_numpy()])
    allv = np.concatenate([vecs, jittered])
    order = r.permutation(len(ids))
    table = pa.table({"vec_id": ids[order],
                      "embedding": pa.array(list(allv[order]), type=emb.schema.field("embedding").type),
                      "label": labels[order]}, schema=emb.schema)
    pq.write_table(table, os.path.join(out, "embeddings.parquet"))
    base = emb["vec_id"]
    pq.write_table(pa.table({"base": base, "variant": pc.add(base, VARIANT_STRIDE)}),
                   os.path.join(out, "planted_vectors.parquet"))


def curate(sf, out, seed):
    corpus(sf, os.path.join(out, "corpus"), seed, BASE_DOCS, BASE_VECTORS)
    corpus(sf, os.path.join(out, "warmup"), seed, BASE_DOCS // WARMUP_SHRINK, BASE_VECTORS // WARMUP_SHRINK)


def lake(sf, out, seed):
    orders = pq.read_table(os.path.join(sf, "orders.parquet"))
    r = rng(seed, "lake")
    held = r.random(orders.num_rows) < 0.25
    pq.write_table(orders.filter(pa.array(~held)), os.path.join(out, "orders_initial.parquet"))
    pool = orders.filter(pa.array(held))
    pq.write_table(permuted(pool, r), os.path.join(out, "orders_pool.parquet"))


GENERATORS = {"copy": copy, "curate": curate, "lake": lake}


def generate(workload, sf, out, seed):
    os.makedirs(out)
    GENERATORS[workload](sf, out, seed)
