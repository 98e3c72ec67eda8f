"""Seeded document batches for the text_nightly workload: the sf0.1
`documents` corpus plus near-duplicate variants (a couple of words
swapped), shuffled and split into batches."""
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VARIANT_ID_BASE = 1_000_000


def make_batches(corpus_path, out_dir, seed, batches, variants):
    docs = pq.read_table(corpus_path).to_pylist()
    rng = random.Random(seed)
    extra = []
    for i, d in enumerate(rng.sample(docs, variants)):
        words = d["text"].split(" ")
        for _ in range(2):
            words[rng.randrange(len(words))] = rng.choice(words)
        text = " ".join(words)
        extra.append(dict(d, doc_id=VARIANT_ID_BASE + i, text=text, n_chars=len(text)))
    rows = docs + extra
    rng.shuffle(rows)
    schema = pq.read_schema(corpus_path)
    os.makedirs(out_dir, exist_ok=True)
    size = -(-len(rows) // batches)
    for b in range(batches):
        part = rows[b * size:(b + 1) * size]
        pq.write_table(pa.Table.from_pylist(part, schema=schema),
                       os.path.join(out_dir, f"batch_{b}.parquet"))
    return len(rows)
