"""Regenerates perfbench/goldens.json, the stored result hashes that the
`analytics` and `curation` workloads check every query against.

    python3 perfbench/make_goldens.py

It runs every benchmarked query twice, in two JVMs, and keeps a hash
only if both runs agree. Each query that has a DuckDB oracle in
SparkEntry.oracleSql needing no dumped inputs is cross-checked: the
Spark result must equal DuckDB's answer over the same sf0.1 tables
(columns by name, rows sorted, doubles to 1e-9 relative). Queries
without such an oracle, or whose oracle does not finish within
ORACLE_TIMEOUT_S, keep their Spark hash and are listed as "spark-only"
in the file.
"""
import glob
import json
import os
import shutil
import sys
import tempfile
import threading

import duckdb
import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402

ORACLE_TIMEOUT_S = 120


def dump(classes, data, out):
    work = tempfile.mkdtemp(dir=build.build_dir())
    try:
        code, _ = run.jvm(classes, work, data, ["--mode", "goldens", "--data", data,
                                                "--work", work, "--out", out], timeout=1800)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        sys.exit(f"goldens run failed ({code})")
    with open(os.path.join(out, "hashes.json")) as f:
        return json.load(f)


def same(sdf, odf):
    """check_oracle.py's comparison, with a relative float tolerance."""
    if sorted(sdf.columns) != sorted(odf.columns) or len(sdf) != len(odf):
        return f"shape spark={list(sdf.columns)}x{len(sdf)} oracle={list(odf.columns)}x{len(odf)}"
    cols = sorted(sdf.columns)
    sdf = sdf[cols].sort_values(cols).reset_index(drop=True)
    odf = odf[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        a, b = sdf[c], odf[c]
        if np.issubdtype(a.dtype, np.floating) or np.issubdtype(b.dtype, np.floating):
            aa, bb = a.astype(float).to_numpy(), b.astype(float).to_numpy()
            ok = np.isclose(aa, bb, rtol=1e-9, atol=1e-12) | (np.isnan(aa) & np.isnan(bb))
            if not ok.all():
                return f"column {c}: {int((~ok).sum())} values differ"
        elif not (a.astype(str).to_numpy() == b.astype(str).to_numpy()).all():
            return f"column {c}: values differ"
    return None


def main():
    classes = build.build()
    data = run.ensure_data()
    outs = [tempfile.mkdtemp(dir=build.build_dir()) for _ in range(2)]
    try:
        first, second = (dump(classes, data, o) for o in outs)
        with open(os.path.join(outs[0], "oracle_sql.json")) as f:
            oracle = json.load(f)
        con = duckdb.connect()
        for p in glob.glob(os.path.join(data, "*.parquet")):
            con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
        goldens, notes = {}, {}
        for q in first:
            if first[q] != second.get(q):
                sys.exit(f"{q}: result hash differs between two runs: {first[q]} vs {second.get(q)}")
            if q in oracle:
                sdf = pd.concat([pd.read_parquet(f) for f in
                                 sorted(glob.glob(os.path.join(outs[0], q, "*.parquet")))],
                                ignore_index=True)
                timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
                timer.start()
                try:
                    odf = con.execute(oracle[q]).fetchdf()
                except duckdb.InterruptException:
                    odf = None
                finally:
                    timer.cancel()
                if odf is None:
                    notes[q] = "spark-only (oracle timed out)"
                else:
                    err = same(sdf, odf)
                    if err:
                        sys.exit(f"{q}: Spark result disagrees with the DuckDB oracle: {err}")
                    notes[q] = "duckdb"
            else:
                notes[q] = "spark-only"
            goldens[q] = first[q]
            print(f"{q}: rows={first[q]['rows']} ({notes[q]})", file=sys.stderr)
    finally:
        for o in outs:
            shutil.rmtree(o, ignore_errors=True)
    with open(os.path.join(HERE, "goldens.json"), "w") as f:
        json.dump({"data_seed": run.DATA_SEED, "checked_by": notes, "hashes": goldens},
                  f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
