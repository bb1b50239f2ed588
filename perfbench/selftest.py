"""Self-test of the benchmark's checker.

    python3 perfbench/selftest.py

Runs each workload once (seed 1, shortest run), confirms the checker accepts
its outputs, then corrupts a copy of them in one way per workload and
confirms the checker rejects each:
  omics_load       one flipped label code in the saved dataset;
  corpus_curation  one survivor dropped from the saved corpus;
  vector_search    one neighbour swapped for an id outside the query's cluster.
Exits 0 only if every clean output passes and every corrupted one fails.
"""
import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import check  # noqa: E402
import run  # noqa: E402

WORK = os.path.join(run.BUILD, "selftest")


def flip_label_code(out):
    path = sorted(glob.glob(os.path.join(out, "saved", "omics", "train", "*.parquet")))[0]
    t = pq.read_table(path)
    codes = t.column("encoded_labels").to_pylist()
    codes[0] = 0 if codes[0] != 0 else 1
    i = t.schema.get_field_index("encoded_labels")
    pq.write_table(t.set_column(i, t.schema.field(i), pa.array(codes, type=t.schema.field(i).type)), path)


def drop_survivor(out):
    files = sorted(glob.glob(os.path.join(out, "saved", "corpus", "train", "*.parquet")))
    path = next(p for p in files if pq.read_metadata(p).num_rows > 0)
    t = pq.read_table(path)
    pq.write_table(t.slice(1), path)


def swap_neighbour(inp, out):
    with open(os.path.join(inp, "truth", "vectors.json")) as f:
        truth = json.load(f)
    path = os.path.join(out, "check_topk.json")
    with open(path) as f:
        rows = json.load(f)
    q = rows[0][0]
    qlab = truth["query_labels"][str(q)]
    taken = {n for qq, n, _, _ in rows if qq == q}
    outsider = next(i for i, lab in enumerate(truth["labels"]) if lab != qlab and i not in taken)
    rows[0][1] = outsider
    with open(path, "w") as f:
        json.dump(rows, f)


CORRUPT = {
    "omics_load": lambda inp, out: flip_label_code(out),
    "corpus_curation": lambda inp, out: drop_survivor(out),
    "vector_search": swap_neighbour,
}


def main():
    ok = True
    for workload, corrupt in CORRUPT.items():
        keep = os.path.join(WORK, workload)
        rc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                             "--seed", "1", "--seconds", "1", "--trace", "0", "--keep", keep],
                            stdout=subprocess.DEVNULL).returncode
        inp, out = os.path.join(keep, "in"), os.path.join(keep, "out")
        clean = check.check(workload, inp, out) if rc == 0 else [f"run exited {rc}"]
        bad_out = os.path.join(keep, "corrupted")
        shutil.rmtree(bad_out, ignore_errors=True)
        shutil.copytree(out, bad_out)
        corrupt(inp, bad_out)
        caught = check.check(workload, inp, bad_out)
        print(f"{workload}: clean output {'passes' if not clean else 'FAILS: ' + clean[0]}; "
              f"corrupted output {'rejected: ' + caught[0] if caught else 'ACCEPTED'}")
        ok = ok and not clean and bool(caught)
    shutil.rmtree(WORK, ignore_errors=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
