"""Simulate the external driver: vanilla SparkSession + DuckDB oracle compare.

This is THE verification surface (see .claude/skills/verify/SKILL.md):
a vanilla session (no nanosAsLong, default tz/partitions) probes that
upflow_spark.session.ensure_conf fixes up foreign sessions; every
`queries()` key runs at sf0.01 and is compared against `oracle_sql()` in
DuckDB on row count + order-insensitive value hash.

Resumable: partial results go to partial_path("driver_sim", SF_DIR), one
file per checkout and fixture dir under the temp dir.
Run: python tools/driver_sim.py        (delete the partial to start fresh;
     python tools/driver_sim.py --partial prints its path)
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def partial_path(tool: str, sf_dir: str) -> str:
    """A sweep's resume file, named from the checkout root and the fixture
    dir: a second copy of the code, or a sweep at another sf, never
    resumes from this one's results."""
    tag = hashlib.sha256(f"{ROOT}\0{os.path.abspath(sf_dir)}".encode()).hexdigest()
    return os.path.join(tempfile.gettempdir(), f"upflow_{tool}_partial_{tag[:16]}.jsonl")


PARTIAL = partial_path("driver_sim", SF_DIR)
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm_hash(pdf) -> str:
    import numpy as np
    import pandas as pd

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = []
    for _, row in pdf.iterrows():
        vals = []
        for v in row:
            if isinstance(v, float) or isinstance(v, np.floating):
                if pd.isna(v):
                    vals.append("NULL")
                else:
                    vals.append(f"{np.floor(v * 1e4 + 0.5) / 1e4:.4f}")
            elif isinstance(v, pd.Timestamp):
                vals.append(str(int(v.value // 1000)))
            elif v is None or (isinstance(v, float) and pd.isna(v)):
                vals.append("NULL")
            else:
                try:
                    if pd.isna(v):
                        vals.append("NULL")
                        continue
                except (TypeError, ValueError):
                    pass
                vals.append(str(v))
        rows.append("|".join(vals))
    rows.sort()
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def main() -> None:
    import duckdb
    from pyspark.sql import SparkSession

    done: dict[str, dict] = {}
    if os.path.exists(PARTIAL):
        with open(PARTIAL) as f:
            for line in f:
                r = json.loads(line)
                done[r["key"]] = r

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

    import __spark_entry__ as E

    n_entry = len(E.entry(spark).collect())
    print(f"entry(): {n_entry} rows", flush=True)
    assert n_entry > 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )

    queries = E.queries()
    oracles = E.oracle_sql()
    out = open(PARTIAL, "a")
    stats = {"match": 0, "rows_only": 0, "fail": 0}
    for r in done.values():
        stats[r["status"] if r["status"] in stats else "fail"] += 1
    for key in sorted(queries):
        if key in done:
            continue
        try:
            pdf = queries[key](spark, SF_DIR).toPandas()
            if key in oracles:
                opdf = con.execute(oracles[key]).df()
                if len(pdf) != len(opdf):
                    status = f"FAIL rowcount {len(pdf)} vs {len(opdf)}"
                elif norm_hash(pdf) != norm_hash(opdf):
                    status = "FAIL hash"
                else:
                    status = "match"
            else:
                status = "rows_only"
            rec = {"key": key, "status": status, "n": len(pdf)}
        except Exception as e:  # noqa: BLE001
            rec = {"key": key, "status": f"FAIL exc {type(e).__name__}: {e}"[:300], "n": -1}
        out.write(json.dumps(rec) + "\n")
        out.flush()
        stats["match" if rec["status"] == "match" else
              "rows_only" if rec["status"] == "rows_only" else "fail"] += 1
        print(f"{rec['status']:<12.12} {key} ({rec['n']} rows)", flush=True)
    out.close()

    with open(PARTIAL) as f:
        all_recs = [json.loads(line) for line in f]
    fails = [r for r in all_recs if r["status"] not in ("match", "rows_only")]
    # durable per-key artifact (VERDICT r4 item 5): the driver has only ever
    # sampled ~50 keys; this file is the committed proof for the rest
    rnd = os.environ.get("UPFLOW_ROUND", "r5")
    art = os.path.join(ROOT, f"CORRECTNESS_local_{rnd}.json")
    import time as _time

    with open(art, "w") as fh:
        json.dump(
            {
                "generated_unix": int(_time.time()),
                "sf_dir": SF_DIR,
                "total": len(all_recs),
                "match": sum(1 for r in all_recs if r["status"] == "match"),
                "rows_only": sum(1 for r in all_recs if r["status"] == "rows_only"),
                "fail": len(fails),
                "keys": {r["key"]: {"status": r["status"], "n": r["n"]} for r in all_recs},
            },
            fh,
            indent=1,
            sort_keys=True,
        )
    print(f"wrote {art}", flush=True)
    print(
        f"\nTOTAL {len(all_recs)} keys: "
        f"{sum(1 for r in all_recs if r['status'] == 'match')} match, "
        f"{sum(1 for r in all_recs if r['status'] == 'rows_only')} rows_only, "
        f"{len(fails)} FAIL",
        flush=True,
    )
    for r in fails:
        print(f"  FAIL {r['key']}: {r['status']}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    if sys.argv[1:] == ["--partial"]:
        print(PARTIAL)
    else:
        main()
