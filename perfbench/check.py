"""Independent checker for the graft benchmark's outputs.

    python3 perfbench/check.py WORKLOAD IN_DIR OUT_DIR

Recomputes the expected results from the generated inputs (IN_DIR) with
DuckDB, pyarrow and NumPy, never through graft, and compares them with what
the run saved and reported (OUT_DIR). check() returns a list of problems;
an empty list means the outputs are correct.
"""
import glob
import json
import os
import re
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq

REL_TOL = 1e-9
JACCARD_THRESHOLD = 0.7
SHINGLE = 5
TOP_K = 10
RECALL_FLOOR = 0.5


def _close(a, b):
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def _parquet(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pq.ParquetDataset(files).read() if files else None


def check_omics(inp, out):
    problems = []
    d = os.path.join(inp, "omics")
    saved = os.path.join(out, "saved", "omics")
    con = duckdb.connect()
    data = os.path.join(d, "data.csv")
    samples = os.path.join(d, "samples.csv")
    con.execute(f"CREATE VIEW data AS SELECT * FROM read_csv('{data}', header=true, all_varchar=false)")
    con.execute(f"CREATE VIEW meta AS SELECT * FROM read_csv('{samples}', header=true, "
                "types={'sample': 'VARCHAR', 'batch': 'VARCHAR', 'label': 'VARCHAR'})")
    features = [c for c in con.execute("SELECT * FROM data LIMIT 0").fetch_arrow_table().column_names
                if c != "sample"]
    splits = {s: _parquet(os.path.join(saved, s)) for s in ("train", "test")}
    if any(t is None for t in splits.values()):
        return ["omics: saved dataset lacks a train or test split"]
    for s, t in splits.items():
        con.register(f"saved_{s}", t)
    con.execute("CREATE VIEW saved AS SELECT * FROM saved_train UNION ALL SELECT * FROM saved_test")

    # train and test partition the samples
    all_ids = {r[0] for r in con.execute("SELECT sample FROM data").fetchall()}
    train = [r[0] for r in con.execute("SELECT sample FROM saved_train").fetchall()]
    test = [r[0] for r in con.execute("SELECT sample FROM saved_test").fetchall()]
    if set(train) & set(test):
        problems.append("omics: train and test share samples")
    if len(train) + len(test) != len(all_ids) or set(train) | set(test) != all_ids:
        problems.append("omics: train and test together are not exactly the data's samples")

    # per-label counts against a DuckDB join of the CSVs
    want = dict(con.execute("SELECT m.label, count(*) FROM data d LEFT JOIN meta m USING (sample) "
                            "GROUP BY 1").fetchall())
    got = dict(con.execute("SELECT label, count(*) FROM saved GROUP BY 1").fetchall())
    if want != got:
        problems.append(f"omics: per-label counts differ: want {want}, got {got}")

    # codes: a bijection onto the sorted label dictionary, -1 for unmatched and null
    dictionary = sorted(r[0] for r in con.execute(
        "SELECT DISTINCT m.label FROM data d JOIN meta m USING (sample) WHERE m.label IS NOT NULL"
    ).fetchall())
    with open(os.path.join(saved, "graft_info.json")) as f:
        info = json.load(f)
    if info.get("labels") != dictionary:
        problems.append(f"omics: saved label dictionary {info.get('labels')} != {dictionary}")
    code_of = {lab: i for i, lab in enumerate(dictionary)}
    bad = [(s, lab, c) for s, lab, c in con.execute(
        "SELECT sample, label, encoded_labels FROM saved").fetchall()
        if c != (code_of[lab] if lab is not None else -1)]
    if bad:
        problems.append(f"omics: {len(bad)} rows carry a wrong label code, e.g. {bad[0]}")
    missing = con.execute("SELECT count(*) FROM data d LEFT JOIN meta m USING (sample) "
                          "WHERE m.label IS NULL").fetchone()[0]
    minus_one = con.execute("SELECT count(*) FROM saved WHERE encoded_labels = -1").fetchone()[0]
    if missing != minus_one:
        problems.append(f"omics: {minus_one} rows coded -1, but {missing} are unmatched or null")

    # per-feature sums: CSV (DuckDB) = saved dataset = melt aggregate = reloaded dataset
    sums_sql = ", ".join(f'sum("{c}")' for c in features)
    csv_sums = dict(zip(features, con.execute(f"SELECT {sums_sql} FROM data").fetchone()))
    saved_sums = dict(zip(features, con.execute(f"SELECT {sums_sql} FROM saved").fetchone()))
    for name, other in (("saved dataset", saved_sums),
                        ("melt aggregate", _load_json(out, "check_melt_sums.json")),
                        ("reloaded dataset", _load_json(out, "check_reload_sums.json"))):
        diff = [c for c in features if c not in other or not _close(csv_sums[c], other[c])]
        if diff or len(other) != len(features):
            problems.append(f"omics: per-feature sums of the {name} differ from the CSV's "
                            f"({len(diff)} features, e.g. {diff[:1]})")
    return problems


def _load_json(out, name):
    with open(os.path.join(out, name)) as f:
        return json.load(f)


def shingles(text):
    toks = re.findall(r"[a-z0-9]+", text.lower())
    return {tuple(toks[i:i + SHINGLE]) for i in range(max(len(toks) - SHINGLE + 1, 1 if toks else 0))}


def jaccard(a, b):
    return len(a & b) / len(a | b) if a or b else 0.0


def expected_survivors(texts, truth):
    """Quality filter, exact dedup (keep the least id), then near-dup
    clusters by exact Jaccard over the planted candidate pairs."""
    kept = {i: t for i, t in texts.items() if len(re.findall(r"[a-z0-9]+", t.lower())) >= SHINGLE}
    first = {}
    for i in sorted(kept):
        first.setdefault(kept[i], i)
    exact = set(first.values())
    pairs = [(a, b) for c in truth["clusters"] for x, a in enumerate(c) for b in c[x + 1:]]
    pairs += [tuple(p) for p in truth["distractors"]]
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x
    for a, b in pairs:
        if a in exact and b in exact and jaccard(shingles(kept[a]), shingles(kept[b])) >= JACCARD_THRESHOLD:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {i for i in exact if find(i) == i}


def check_corpus(inp, out):
    problems = []
    t = pq.read_table(os.path.join(inp, "corpus", "corpus.parquet"))
    texts = dict(zip(t.column("id").to_pylist(), t.column("text").to_pylist()))
    with open(os.path.join(inp, "truth", "corpus.json")) as f:
        truth = json.load(f)
    saved = _parquet(os.path.join(out, "saved", "corpus", "train"))
    if saved is None:
        return ["corpus: no saved survivors"]
    got_ids = saved.column("id").to_pylist()
    got = set(got_ids)
    if len(got) != len(got_ids):
        problems.append("corpus: a survivor is saved twice")
    for i, txt in zip(got_ids, saved.column("text").to_pylist()):
        if texts.get(i) != txt:
            problems.append(f"corpus: survivor {i} does not carry its input text")
            break

    for a, b, _ in _load_json(out, "check_pairs.json"):
        j = jaccard(shingles(texts[a]), shingles(texts[b]))
        if j < JACCARD_THRESHOLD:
            problems.append(f"corpus: reported pair ({a}, {b}) has Jaccard {j:.3f} < {JACCARD_THRESHOLD}")
            break

    want = expected_survivors(texts, truth)
    if got != want:
        problems.append(f"corpus: survivors differ from the expected set: {len(want - got)} missing "
                        f"(e.g. {sorted(want - got)[:3]}), {len(got - want)} extra (e.g. {sorted(got - want)[:3]})")
    by_text = {}
    for i, txt in texts.items():
        by_text.setdefault(txt, []).append(i)
    for ids in by_text.values():
        if len(ids) > 1 and len(got & set(ids)) > 1:
            problems.append(f"corpus: exact-duplicate group {sorted(ids)} keeps {len(got & set(ids))} documents")
            break
    for group in truth["exact"]:
        if len(got & set(group)) != 1:
            problems.append(f"corpus: planted exact-duplicate group {sorted(group)} keeps "
                            f"{len(got & set(group))} documents, not 1")
            break
    return problems


def check_vectors(inp, out):
    problems = []
    d = os.path.join(inp, "vectors")
    corpus = pq.read_table(os.path.join(d, "corpus.parquet"))
    queries = pq.read_table(os.path.join(d, "queries.parquet"))
    ids = np.asarray(corpus.column("id").to_pylist())
    vecs = np.asarray(corpus.column("vec").to_pylist(), dtype=np.float64)
    qids = queries.column("id").to_pylist()
    qvecs = np.asarray(queries.column("vec").to_pylist(), dtype=np.float64)
    with open(os.path.join(inp, "truth", "vectors.json")) as f:
        truth = json.load(f)
    label = dict(zip(ids.tolist(), truth["labels"]))
    qlabel = {int(k): v for k, v in truth["query_labels"].items()}

    rows = {}
    for q, n, dist, rank in _load_json(out, "check_topk.json"):
        rows.setdefault(q, []).append((rank, n, dist))
    if set(rows) != set(qids):
        problems.append(f"vectors: {len(set(qids) - set(rows))} queries got no answer")
    hits = 0
    for qi, q in enumerate(qids):
        ans = sorted(rows.get(q, []))
        nbrs = [n for _, n, _ in ans]
        if len(ans) != TOP_K or len(set(nbrs)) != TOP_K or [r for r, _, _ in ans] != list(range(1, TOP_K + 1)):
            problems.append(f"vectors: query {q} does not get {TOP_K} distinct ranked neighbours")
            continue
        dists = [x for _, _, x in ans]
        if any(b < a for a, b in zip(dists, dists[1:])):
            problems.append(f"vectors: query {q}'s neighbours are not in non-decreasing distance")
        off = [n for n in nbrs if label.get(n) != qlabel[q]]
        if off:
            problems.append(f"vectors: query {q} returns {off[0]}, which lies outside its cluster")
        exact = ids[np.argsort(((vecs - qvecs[qi]) ** 2).sum(axis=1), kind="stable")[:TOP_K]]
        hits += len(set(nbrs) & set(exact.tolist()))
    recall = hits / (TOP_K * max(1, len(qids)))
    if recall < RECALL_FLOOR:
        problems.append(f"vectors: recall@{TOP_K} {recall:.3f} is below the floor {RECALL_FLOOR}")
    return problems[:5]


CHECKS = {"omics_load": check_omics, "corpus_curation": check_corpus, "vector_search": check_vectors}


def check(workload, inp, out):
    try:
        return CHECKS[workload](inp, out)
    except Exception as e:  # a missing or malformed output is a failed check
        return [f"{workload}: checker could not read the outputs: {type(e).__name__}: {e}"]


if __name__ == "__main__":
    found = check(sys.argv[1], sys.argv[2], sys.argv[3])
    for p in found:
        print(p)
    sys.exit(1 if found else 0)
