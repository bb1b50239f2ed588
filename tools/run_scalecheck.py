#!/usr/bin/env python3
"""The standing scale-sweep gate: one command that (1) generates the
deterministic sf-scale data if absent, (2) runs the full registry
through graft.Verify with the big-SF resilience settings, (3) grades
every query against its DuckDB oracle — routing the handful of
oracles DuckDB cannot evaluate at scale through the
semantics-equivalent replays in replay_oracles.py — and (4) writes
SCALECHECK_r{N}.json (SCALECHECK_r{N}_only.json for an --only run).

The r12 sweep caught five real scale bugs but lived in /tmp logs;
this makes the whole loop reproducible:

    python3 tools/run_scalecheck.py --round 13

Options:
    --round N        record round number (required for the output name)
    --sf-dir DIR     data dir (default /root/repo/tmp/sf1; generated
                     via gen_sf.py 10x relational / 10x docs if absent)
    --out DIR        verify output dir (default /root/repo/tmp/verify_sf1)
    --skip-verify    grade an existing verify dump without re-running
    --only a,b,c     grade a subset (replays/oracles still pick per-query);
                     the record goes to SCALECHECK_r{N}_only.json, and a
                     named query with no oracle counts as missing
    --timeout SEC    per-query DuckDB oracle budget (default 900)
    --workers N      parallel DuckDB compare processes (default 4)

Runtime on the reference box (local[32], 128 GiB): the Verify pass is
the bulk (tens of minutes at sf1); grading adds ~15-30 min with 4
workers. DuckDB runs at threads=8 per worker — also the fix for the
q_seasonal_decomp grading noise (DuckDB at threads=4 disagrees with
itself by 1e-6-boundary ulps on a phase mean; see SCALEPROBE_r12).
"""
import argparse
import hashlib
import json
import multiprocessing as mp
import os
import subprocess
import sys
import time

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def ensure_data(sf_dir):
    if all(os.path.exists(f"{sf_dir}/{t}.parquet") for t in TABLES):
        print(f"[scalecheck] data present: {sf_dir}")
        return
    print(f"[scalecheck] generating {sf_dir} (gen_sf.py 10 10)...")
    subprocess.run([sys.executable, f"{HERE}/gen_sf.py", sf_dir, "10", "10"],
                   check=True)


def run_verify(sf_dir, out_dir, jar=None, driver_mem="48g"):
    env = dict(os.environ)
    # streams need room at sf1 (the q_stream_decontaminate lesson:
    # the default 120 s cap starves a 1M-event stream on a busy box)
    env.setdefault("SPARK_GRAFT_STREAM_TIMEOUT_MS", "600000")
    if jar:
        # spark-submit on the packaged jar: no sbt project lock, so
        # the sweep can run in the background while sbt keeps working
        cmd = ["/opt/spark/bin/spark-submit", "--master", "local[32]",
               "--driver-memory", driver_mem,
               "--conf", "spark.ui.enabled=false",
               "--class", "graft.Verify", jar, sf_dir, out_dir]
    else:
        env.setdefault("SPARK_DRIVER_MEM", driver_mem)
        cmd = ["sbt", "-batch", f"runMain graft.Verify {sf_dir} {out_dir}"]
    print(f"[scalecheck] running graft.Verify {sf_dir} -> {out_dir} ...")
    t0 = time.time()
    subprocess.run(cmd, check=True, cwd=REPO, env=env,
                   stdout=open(f"{out_dir}.verify.log", "w"),
                   stderr=subprocess.STDOUT)
    print(f"[scalecheck] verify done in {time.time() - t0:.0f}s "
          f"(log: {out_dir}.verify.log)")


def _grade_duckdb(args):
    """Worker: grade one query in its own process/connection."""
    name, sql, sf_dir, out_dir = args
    import duckdb
    import glob as g
    con = duckdb.connect()
    con.execute("SET threads TO 8")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    t0 = time.time()
    try:
        files = g.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            return name, False, "no spark output", 0.0
        sdf = con.execute(
            f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchdf()
        odf = con.execute(sql).fetchdf()

        def norm(df):
            df = df[sorted(df.columns)]
            df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
            return hashlib.md5(
                df.to_csv(index=False, float_format="%.6f").encode()).hexdigest()

        ok_rows = len(sdf) == len(odf)
        ok_schema = sorted(map(str.lower, sdf.columns)) == \
            sorted(map(str.lower, odf.columns))
        ok_hash = norm(sdf) == norm(odf) if ok_rows and ok_schema else False
        ok = ok_rows and ok_schema and ok_hash
        detail = "ok (duckdb oracle)" if ok else (
            f"rows={ok_rows}({len(sdf)}/{len(odf)}) schema={ok_schema} hash={ok_hash}")
        return name, ok, detail, time.time() - t0
    except Exception as e:  # noqa: BLE001 — grading must never kill the sweep
        return name, False, f"oracle error: {e}", time.time() - t0


def grade(sf_dir, out_dir, only, timeout, workers):
    sys.path.insert(0, HERE)
    import duckdb
    from replay_oracles import REPLAYS

    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = sorted(oracle)
    if only:
        names = [n for n in names if n in only]

    results = {}

    # replays first (single process; they share the jaccard cache)
    replay_names = [n for n in names if n in REPLAYS]
    if replay_names:
        con = duckdb.connect()
        con.execute("SET threads TO 8")
        for t in TABLES:
            p = f"{sf_dir}/{t}.parquet"
            if os.path.exists(p):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        for n in replay_names:
            t0 = time.time()
            try:
                ok, detail = REPLAYS[n](con, sf_dir, out_dir)
            except Exception as e:  # noqa: BLE001
                ok, detail = False, f"replay error: {e}"
            results[n] = {"ok": ok, "how": "replay", "detail": detail,
                          "sec": round(time.time() - t0, 1)}
            print(f"[scalecheck] {n}: {'OK' if ok else 'FAIL'} {detail} "
                  f"[{results[n]['sec']}s]")
        con.close()

    duck_names = [n for n in names if n not in REPLAYS]
    jobs = [(n, oracle[n], sf_dir, out_dir) for n in duck_names]
    ctx = mp.get_context("spawn")
    with ctx.Pool(processes=workers) as pool:
        async_results = {n: pool.apply_async(_grade_duckdb, (job,))
                         for n, job in zip(duck_names, jobs)}
        for n in duck_names:
            try:
                name, ok, detail, sec = async_results[n].get(timeout=timeout)
            except mp.TimeoutError:
                name, ok, detail, sec = n, False, f"oracle timeout (> {timeout}s)", timeout
            results[name] = {"ok": ok, "how": "duckdb", "detail": detail,
                             "sec": round(sec, 1)}
            print(f"[scalecheck] {name}: {'OK' if ok else 'FAIL'} {detail} "
                  f"[{results[name]['sec']}s]")
    return oracle, results


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--sf-dir", default=f"{REPO}/tmp/sf1")
    ap.add_argument("--out", default=f"{REPO}/tmp/verify_sf1")
    ap.add_argument("--skip-verify", action="store_true")
    ap.add_argument("--only", default="")
    ap.add_argument("--timeout", type=int, default=900)
    ap.add_argument("--workers", type=int, default=4)
    ap.add_argument("--jar", default="",
                    help="packaged jar: run Verify via spark-submit "
                         "(no sbt lock) instead of sbt runMain")
    ap.add_argument("--driver-mem", default="48g")
    a = ap.parse_args()

    ensure_data(a.sf_dir)
    os.makedirs(a.out, exist_ok=True)
    if not a.skip_verify:
        run_verify(a.sf_dir, a.out, jar=a.jar or None, driver_mem=a.driver_mem)
    only = set(a.only.split(",")) if a.only else None
    oracle, results = grade(a.sf_dir, a.out, only, a.timeout, a.workers)

    # a subset run grades and records only the queries it names: it
    # writes its own file, so a round's full record is never replaced
    missing = sorted((only or set(oracle)) - set(results))
    bad = {k: v["detail"] for k, v in results.items() if not v["ok"]}
    record = {
        "round": a.round,
        "sf": ("1.0 (tools/gen_sf.py deterministic data: 10x relational / "
               "10x documents over sf0.1)"),
        **({"only": sorted(only)} if only else {}),
        "n_queries": len(results) if only else len(oracle),
        "n_pass": sum(1 for v in results.values() if v["ok"]),
        "n_fail": len(bad),
        "missing": missing,
        "failures": bad,
        "graded_via_replay": sorted(
            k for k, v in results.items() if v["how"] == "replay"),
        "detail": {k: v["detail"] for k, v in sorted(results.items())},
        "note": ("produced by tools/run_scalecheck.py (gen_sf -> graft.Verify "
                 "-> DuckDB oracle compare, with semantics-equivalent replays "
                 "from tools/replay_oracles.py for the oracles DuckDB cannot "
                 "evaluate at sf1: iterative-CTE graph queries via numpy "
                 "snapped-arithmetic replay, transitive closure via "
                 "union-find, all-pairs jaccard via prefix-filtered exact "
                 "enumeration)"),
    }
    out_path = f"{REPO}/SCALECHECK_r{a.round:02d}{'_only' if only else ''}.json"
    json.dump(record, open(out_path, "w"), indent=1)
    print(f"[scalecheck] {record['n_pass']}/{record['n_queries']} pass, "
          f"{record['n_fail']} fail, {len(missing)} missing -> {out_path}")
    return 0 if not bad and not missing else 1


if __name__ == "__main__":
    sys.exit(main())
