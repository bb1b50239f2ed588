"""Seeded input generator for the graft benchmark.

    python3 perfbench/gen.py WORKLOAD SEED OUT_DIR

Writes the files graft reads under OUT_DIR/<omics|corpus|vectors>/ and the
ground truth the checker needs under OUT_DIR/truth/ (graft never reads it).
The same seed gives byte-identical files. Sizes and shares are module
constants, recorded in perfbench/README.md.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# omics_load
N_SAMPLES = 1000
N_FEATURES = 100
N_UNMATCHED = 50  # samples with no metadata row
N_NULL_LABEL = 50  # matched samples whose label is empty
LABELS = ["cls_a", "cls_b", "cls_c", "cls_d"]  # equal width: file sizes do not depend on the seed
BATCHES = ["b1", "b2", "b3", "b4"]

# corpus_curation
N_SINGLES = 2000  # unrelated documents
N_CLUSTERS = 150  # planted near-duplicate clusters: a base and two one-word variants
N_DISTRACTORS = 75  # share the first half of a single: Jaccard ~0.32, well below the threshold
N_EXACT_ONE = 100  # singles copied once
N_EXACT_TWO = 100  # singles copied twice
N_JUNK = 50  # three-word documents that fail quality scoring
DOC_WORDS = 100
VOCAB = 5000

# vector_search
N_VECTORS = 5000
N_QUERIES = 200
DIM = 32
# as many equal clusters as the workload's IVF lists, so each list holds one
# cluster and the candidates a query scores (nProbe lists) do not depend on
# the seed
N_CLUSTERS_VEC = 8
CENTER_SCALE = 10.0  # centers ~ N(0, 10^2) per dimension: ~80 apart
NOISE = 1.0  # within-cluster N(0, 1) per dimension: radius ~5.7


def omics(rng, out):
    d = os.path.join(out, "omics")
    os.makedirs(d, exist_ok=True)
    samples = [f"S{i:05d}" for i in range(N_SAMPLES)]
    features = [f"f{j:04d}" for j in range(N_FEATURES)]
    # values in thousandths, always five digits: every cell is "dd.ddd"
    vals = rng.integers(10000, 100000, size=(N_SAMPLES, N_FEATURES))
    cells = np.char.add(np.char.add((vals // 1000).astype(str), "."),
                        np.char.zfill((vals % 1000).astype(str), 3))
    with open(os.path.join(d, "data.csv"), "w") as f:
        f.write("sample," + ",".join(features) + "\n")
        for s, row in zip(samples, cells):
            f.write(s + "," + ",".join(row) + "\n")
    order = rng.permutation(N_SAMPLES)
    unmatched = set(order[:N_UNMATCHED].tolist())
    null_label = set(order[N_UNMATCHED:N_UNMATCHED + N_NULL_LABEL].tolist())
    labels = rng.integers(0, len(LABELS), size=N_SAMPLES)
    batches = rng.integers(0, len(BATCHES), size=N_SAMPLES)
    with open(os.path.join(d, "samples.csv"), "w") as f:
        f.write("sample,batch,label\n")
        for i, s in enumerate(samples):
            if i in unmatched:
                continue
            lab = "" if i in null_label else LABELS[labels[i]]
            f.write(f"{s},{BATCHES[batches[i]]},{lab}\n")
    with open(os.path.join(d, "features.csv"), "w") as f:
        f.write("feature,gene,pathway\n")
        for j, name in enumerate(features):
            f.write(f"{name},G{j:05d},pw{j % 10:02d}\n")


def corpus(rng, out):
    d = os.path.join(out, "corpus")
    os.makedirs(d, exist_ok=True)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = set()
    while len(vocab) < VOCAB:
        n = int(rng.integers(3, 9))
        vocab.add("".join(rng.choice(letters, n)))
    vocab = sorted(vocab)

    def words(n):
        return [vocab[i] for i in rng.integers(0, VOCAB, n)]

    docs = []  # (text, role, group)
    singles = [words(DOC_WORDS) for _ in range(N_SINGLES)]
    for i, w in enumerate(singles):
        docs.append((w, "single", i))
    for c in range(N_CLUSTERS):
        base = words(DOC_WORDS)
        docs.append((base, "cluster", c))
        # substitutions 40 words apart: the variants' changed shingles never overlap
        for lo, hi in ((10, 40), (50, 80)):
            v = list(base)
            p = int(rng.integers(lo, hi))
            while v[p] == base[p]:
                v[p] = vocab[int(rng.integers(0, VOCAB))]
            docs.append((v, "cluster", c))
    picks = rng.permutation(N_SINGLES)
    dist_src = picks[:N_DISTRACTORS]
    exact_one = picks[N_DISTRACTORS:N_DISTRACTORS + N_EXACT_ONE]
    exact_two = picks[N_DISTRACTORS + N_EXACT_ONE:N_DISTRACTORS + N_EXACT_ONE + N_EXACT_TWO]
    for s in dist_src:
        docs.append((singles[s][:DOC_WORDS // 2] + words(DOC_WORDS - DOC_WORDS // 2), "distractor", int(s)))
    for s in exact_one:
        docs.append((singles[s], "exact", int(s)))
    for s in exact_two:
        docs.append((singles[s], "exact", int(s)))
        docs.append((singles[s], "exact", int(s)))
    for _ in range(N_JUNK):
        docs.append((words(3), "junk", -1))

    ids = rng.permutation(len(docs))
    single_id = {}
    truth = {"clusters": {}, "distractors": [], "exact": {}, "junk": []}
    for (w, role, g), i in zip(docs, ids):
        i = int(i)
        if role == "single":
            single_id[g] = i
        elif role == "cluster":
            truth["clusters"].setdefault(str(g), []).append(i)
        elif role == "exact":
            truth["exact"].setdefault(str(g), []).append(i)
        elif role == "junk":
            truth["junk"].append(i)
    for (w, role, g), i in zip(docs, ids):
        if role == "distractor":
            truth["distractors"].append([single_id[g], int(i)])
    truth["exact"] = [[single_id[int(g)]] + v for g, v in truth["exact"].items()]
    truth["clusters"] = list(truth["clusters"].values())

    order = np.argsort(ids)
    table = pa.table({
        "id": pa.array(ids[order].astype(np.int64)),
        "text": pa.array([" ".join(docs[k][0]) for k in order]),
    })
    pq.write_table(table, os.path.join(d, "corpus.parquet"))
    write_truth(out, "corpus.json", truth)


def vectors(rng, out):
    d = os.path.join(out, "vectors")
    os.makedirs(d, exist_ok=True)
    centers = rng.normal(0.0, CENTER_SCALE, size=(N_CLUSTERS_VEC, DIM))

    def draw(n):
        lab = rng.permutation(np.arange(n) % N_CLUSTERS_VEC)
        return lab, (centers[lab] + rng.normal(0.0, NOISE, size=(n, DIM))).astype(np.float32)

    lab, vec = draw(N_VECTORS)
    qlab, qvec = draw(N_QUERIES)
    ids = np.arange(N_VECTORS, dtype=np.int64)
    qids = np.arange(N_QUERIES, dtype=np.int64) + 1_000_000
    for name, i, v in (("corpus", ids, vec), ("queries", qids, qvec)):
        pq.write_table(pa.table({
            "id": pa.array(i),
            "vec": pa.ListArray.from_arrays(
                pa.array(np.arange(0, v.size + 1, DIM, dtype=np.int32)), pa.array(v.ravel())),
        }), os.path.join(d, f"{name}.parquet"))
    write_truth(out, "vectors.json", {
        "labels": lab.tolist(),
        "query_labels": dict(zip(map(str, qids.tolist()), qlab.tolist())),
    })


def write_truth(out, name, obj):
    d = os.path.join(out, "truth")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        json.dump(obj, f)


GENERATORS = {"omics_load": omics, "corpus_curation": corpus, "vector_search": vectors}


def generate(workload, seed, out):
    GENERATORS[workload](np.random.default_rng(seed), out)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
