"""Seeded input generator for the benchmark workloads.

Every input the program sees is written here from `seed` alone, together
with `expected.json`: what was planted, so `run.py` can check the outputs.
Sizes are module constants; BENCHMARK.json says why each was chosen.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Every run is one fresh JVM whose warm-up dominates the pipeline: on 4
# cores 100k rows take ~31 s of wall time and 400k rows ~47 s, and a stream
# batch costs ~20 s (about 100 Spark jobs) almost regardless of its size.
# The sizes are the largest that keep 22 runs of each workload within the
# benchmark's time budget.
#
# etl_tabular: lineitem-like rows (reference table); the drifted "current"
# snapshot has half as many.
ETL_ROWS = 100_000
ETL_FILES = 8
DRIFTED = ["l_discount", "l_shipmode"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]

# stream_dedup: landed batches, fresh docs per batch, embedding width.
BATCHES = 2
BATCH_DOCS = 400
EMB_DIM = 64

STOPWORDS = ["the", "and", "of", "to", "that", "with", "have", "this", "from",
             "for", "is", "was", "are", "it", "on", "be", "by", "at"]


def _write(table, path, files=1):
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:05d}.parquet"))


def _vocab(rng, n):
    """`n` distinct pronounceable words of 3 to 9 letters."""
    cons, vows = list("bcdfghklmnprstvwz"), list("aeiou")
    words, seen = [], set(STOPWORDS)
    while len(words) < n:
        k = rng.integers(2, 5)
        w = "".join(rng.choice(cons) + rng.choice(vows) for _ in range(k))[: rng.integers(3, 10)]
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


def _docs(rng, vocab, cdf, lengths):
    """Documents of content words drawn by inverse-CDF sampling over `cdf`,
    with stopwords mixed in, as sentences of 8 to 16 words, four to a line."""
    total = int(np.sum(lengths))
    words = vocab[np.minimum(np.searchsorted(cdf, rng.random(total)), len(vocab) - 1)]
    stops = np.array(STOPWORDS)[rng.integers(0, len(STOPWORDS), total)]
    words = np.where(rng.random(total) < 0.3, stops, words)
    cuts = rng.integers(8, 17, total)
    docs, pos = [], 0
    for n in lengths:
        sents, i = [], 0
        while i < n:
            k = int(cuts[pos + i])
            sent = words[pos + i:pos + min(i + k, n)]
            sents.append(sent[0].capitalize() + (" " if len(sent) > 1 else "")
                         + " ".join(sent[1:]) + ".")
            i += k
        docs.append("\n".join(" ".join(sents[j:j + 4]) for j in range(0, len(sents), 4)))
        pos += n
    return docs


def gen_etl(root, seed):
    rng = np.random.default_rng(seed)

    def rows(n, drift, base_key):
        qty = rng.integers(1, 51, n).astype(np.float64)
        price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
        disc = np.round(rng.uniform(0.05, 0.15, n) if drift else rng.uniform(0.0, 0.10, n), 2)
        tax = np.round(rng.uniform(0.0, 0.08, n), 2)
        modes_p = np.array([0.05, 0.05, 0.1, 0.1, 0.1, 0.3, 0.3]) if drift else np.full(7, 1 / 7)
        mode = np.array(SHIPMODES)[rng.choice(7, size=n, p=modes_p)]
        flag = np.array(["A", "N", "R"])[rng.choice(3, size=n, p=[0.25, 0.5, 0.25])]
        ship = rng.integers(8000, 10500, n)
        days = rng.integers(1, 31, n)
        logit = 0.08 * (qty - 25) - 25.0 * (disc - 0.05) + 0.12 * (days - 15) + rng.normal(0, 1, n)
        label = (logit > 0).astype(np.int32)
        keys = base_key + np.arange(n, dtype=np.int64)
        return pa.table({
            "uid": pa.array([f"u{k}" for k in keys]),
            "l_orderkey": pa.array(keys // 4),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(disc),
            "l_tax": pa.array(tax),
            "l_returnflag": pa.array(flag),
            "l_shipmode": pa.array(mode),
            "l_shipdate": pa.array(ship.astype("datetime64[D]")),
            "l_receiptdate": pa.array((ship + days).astype("datetime64[D]")),
            "label": pa.array(label),
        })

    _write(rows(ETL_ROWS, False, 0), os.path.join(root, "lineitem"), ETL_FILES)
    _write(rows(ETL_ROWS // 2, True, 10 * ETL_ROWS), os.path.join(root, "current"), ETL_FILES)
    return {"rows": ETL_ROWS, "drifted": DRIFTED}


def gen_stream(root, seed):
    """Fresh docs are far apart in text and vector space; every echo is a
    copy (exact), an upper-cased copy (same SimHash, new content hash) or a
    new text carrying an earlier doc's embedding (vector tier). Echo ids are
    above every fresh id of their batch, so keep-lower-id drops the echo."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 8000)
    uniform = np.linspace(1.0 / len(vocab), 1.0, len(vocab))  # CDF

    def fresh(n, first_id):
        emb = rng.normal(0, 1, (n, EMB_DIM)).astype(np.float32)
        texts = _docs(rng, vocab, uniform, rng.integers(40, 90, n))
        return [(first_id + i, texts[i], emb[i]) for i in range(n)]

    def table(rows):
        return pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows]),
            "embedding": pa.array([r[2].tolist() for r in rows], pa.list_(pa.float32())),
        })

    os.makedirs(os.path.join(root, "batches"), exist_ok=True)
    earlier, expected, next_id = [], [], 0
    for b in range(BATCHES):
        rows = fresh(BATCH_DOCS, next_id)
        next_id += BATCH_DOCS
        echoes = []
        for k in range(BATCH_DOCS // 20):
            kind = k % 5
            pool = earlier if kind >= 2 and earlier else rows
            src = pool[int(rng.integers(0, len(pool)))]
            if kind in (0, 2):                    # exact copy
                echoes.append((next_id, src[1], src[2]))
            elif kind in (1, 3):                  # case-changed copy
                echoes.append((next_id, src[1].upper(), src[2]))
            else:                                 # new text, echoed embedding
                echoes.append((next_id, _docs(rng, vocab, uniform, [50])[0], src[2]))
            next_id += 1
        expected.append(sorted(r[0] for r in rows))
        earlier.extend(rows)
        batch = rows + echoes
        order = rng.permutation(len(batch))
        pq.write_table(table([batch[i] for i in order]),
                       os.path.join(root, "batches", f"batch-{b:03d}.parquet"))
    return {"survivors": expected}


GENERATORS = {"etl_tabular": gen_etl, "stream_dedup": gen_stream}


def generate(workload, root, seed):
    expected = GENERATORS[workload](root, seed)
    with open(os.path.join(root, "expected.json"), "w") as f:
        json.dump(expected, f)
    return expected
