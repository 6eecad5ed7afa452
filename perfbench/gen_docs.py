#!/usr/bin/env python3
"""Seeded document-corpus generator for the docs_curate workload.

The corpus has the shape of the repo's sf0.1 ``documents`` test table:
columns ``doc_id BIGINT, text STRING, lang STRING, source STRING,
n_chars BIGINT``; text drawn from the same 30-word vocabulary at 10-100
words per document; five sources; the same language mix. English
documents also carry English stopwords, so that the language and quality
gates of ``Pipelines.curate`` keep them.

Each batch (one ``curate`` call) holds K replicas of a base set: replica 0
is the base text, later replicas reorder each base document's words, so a
replica is a distinct document of the same length and vocabulary. On top,
fixed shares of the batch are planted:

* exact duplicates -- an earlier document's text with a case change;
* near duplicates  -- an earlier document's text with one word replaced;
* low quality      -- punctuation/digit junk with no stopwords.

``<out>/batch_<i>.parquet`` holds the batches and ``<out>/truth.json`` the
class of every planted document. The same ``--seed`` and sizes give
byte-identical files.

    python3 perfbench/gen_docs.py --seed 1 --out DIR --batches 4 --docs 2000
"""
import argparse
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# the word list of the sf0.1 documents table
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row agg key query scan batch the a").split()
STOPWORDS = ("the a an and of to in is it that for on with as at by from "
             "this be are").split()
LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14
JUNK = list("#$%&*+=<>|~^@") + [str(d) for d in range(10)]
SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                    ("lang", pa.string()), ("source", pa.string()),
                    ("n_chars", pa.int64())])


def base_words(rng):
    n = rng.randint(10, 100)
    return [rng.choice(STOPWORDS) if rng.random() < 0.3 else rng.choice(VOCAB)
            for _ in range(n)]


def batch(rng, first_id, docs, replicas, exact_rate, near_rate, low_rate):
    n_base = docs // replicas
    base = [base_words(rng) for _ in range(n_base)]
    texts = []
    for r in range(replicas):
        for words in base:
            w = list(words)
            if r:
                rng.shuffle(w)
            texts.append(w)
    texts += [base_words(rng) for _ in range(docs - len(texts))]
    n = len(texts)
    planted = {}
    n_exact, n_near = int(n * exact_rate), int(n * near_rate)
    classes = (["exact"] * n_exact + ["near"] * n_near +
               ["low"] * int(n * low_rate))
    rng.shuffle(classes)
    # ascending positions: a copy's source is final before it is copied
    slots = sorted(rng.sample(range(n // 10, n), len(classes)))
    for pos, kind in zip(slots, classes):
        if kind == "exact":
            src = rng.randrange(pos)
            w = list(texts[src])
            w[0] = w[0].upper()
        elif kind == "near":
            src = rng.randrange(pos)
            while len(texts[src]) < 60:
                src = rng.randrange(pos)
            w = list(texts[src])
            w[rng.randrange(len(w))] = rng.choice(VOCAB)
        else:
            src = None
            w = ["".join(rng.choice(JUNK) for _ in range(rng.randint(1, 6)))
                 for _ in range(rng.randint(5, 40))]
        planted[pos] = (kind, src)
        texts[pos] = w
    rows = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    truth = {}
    for i, words in enumerate(texts):
        doc_id = first_id + i
        text = " ".join(words)
        rows["doc_id"].append(doc_id)
        rows["text"].append(text)
        rows["lang"].append(rng.choice(LANGS))
        rows["source"].append(f"src{doc_id % 5}")
        rows["n_chars"].append(len(text))
        if i in planted:
            kind, src = planted[i]
            truth[str(doc_id)] = [kind, None if src is None else first_id + src]
    return pa.table(rows, schema=SCHEMA), truth


def generate(seed, out, batches, docs, replicas, exact_rate, near_rate,
             low_rate):
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    truth = {"seed": seed, "batches": {}}
    for b in range(batches):
        name = f"batch_{b:03d}.parquet"
        table, planted = batch(rng, b * 1_000_000, docs, replicas,
                               exact_rate, near_rate, low_rate)
        pq.write_table(table, os.path.join(out, name))
        truth["batches"][name] = {"docs": table.num_rows,
                                  "bytes": os.path.getsize(
                                      os.path.join(out, name)),
                                  "planted": planted}
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--batches", type=int, default=2)
    ap.add_argument("--docs", type=int, default=2000, help="docs per batch")
    ap.add_argument("--replicas", type=int, default=4)
    ap.add_argument("--exact-dup-rate", type=float, default=0.05)
    ap.add_argument("--near-dup-rate", type=float, default=0.05)
    ap.add_argument("--low-quality-rate", type=float, default=0.05)
    a = ap.parse_args()
    generate(a.seed, a.out, a.batches, a.docs, a.replicas, a.exact_dup_rate,
             a.near_dup_rate, a.low_quality_rate)


if __name__ == "__main__":
    main()
