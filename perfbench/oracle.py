"""Output checks, made outside the timed passes.

Registry queries: each result parquet is compared with its DuckDB twin
(`SparkEntry.oracleSql`) run over the same lake: column names, row count
and an order-independent content hash. Cells are normalized and hashed
by the project's oracle gate itself (`tools/check.py`): values fetched
through pandas, floats by `repr`, NULL/NaN spelled out, columns sorted by
name and rows sorted. A query without a twin is checked for a non-empty
result only.

Pipeline (after the timed passes, over every cut loaded): per cut and
table, valid + quarantined rows written == rows in the bronze file; quarantine reason counts (from the quarantine
partitions' `_meta.json` sidecars) == the injected counts; every catalog partition passes its row-count check; each gold
table has its expected version count; serving answers over the written
gold equal those over gold recomputed in memory.

Each check returns a list of problem strings; each problem is one
wrong result.
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
import check  # noqa: E402  the project's oracle gate; its normalization is reused here

def frame_hash(df):
    return check.frame_hash(list(df.itertuples(index=False, name=None)), list(df.columns))


def check_registry(res, lake_dir, out_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake_dir}/{t}.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    problems = []
    for name in sorted({op["name"] for op in res["warmup_ops"]}):
        if not os.path.exists(os.path.join(out_dir, name, "_SUCCESS")):
            continue  # the query threw; counted as failed already
        got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
        if name not in oracle:
            if len(got) == 0:
                problems.append(f"{name}: empty result (rows-only query)")
            continue
        try:
            exp = con.execute(oracle[name]).df()
        except duckdb.Error as e:
            problems.append(f"{name}: oracle failed: {str(e)[:200]}")
            continue
        if sorted(got.columns) != sorted(exp.columns):
            problems.append(f"{name}: columns {sorted(got.columns)} != {sorted(exp.columns)}")
        elif len(got) != len(exp):
            problems.append(f"{name}: rows {len(got)} != {len(exp)}")
        elif frame_hash(got) != frame_hash(exp):
            problems.append(f"{name}: content hash differs ({len(got)} rows)")
    con.close()
    return problems


def result_rows(out_dir, names):
    """Rows of each registry query's checked result (written by the first warm-up pass)."""
    con = duckdb.connect()
    rows = {n: con.execute(f"SELECT count(*) FROM read_parquet('{out_dir}/{n}/*.parquet')")
            .fetchone()[0] for n in names
            if os.path.exists(os.path.join(out_dir, n, "_SUCCESS"))}
    con.close()
    return rows


# Versions each gold table should have after n loaded cuts.
GOLD_VERSIONS = {"dim_date": "cuts", "dim_time_30m": 1, "dim_event_type": 1,
                 "dim_user": "cuts", "fct_events": "cuts", "agg_sales_daily": "cuts"}


def check_pipeline(res, manifest):
    facts = res["check"]
    problems = []
    loaded = facts.get("cuts") or []
    if not loaded:
        return ["pipeline loaded no cut"]
    for cut in loaded:
        for table, want in sorted(manifest["cuts"][str(cut)].items()):
            got = facts.get(f"silver.{table}.c{cut}")
            if got is None:
                problems.append(f"silver {table} cut {cut}: no record")
                continue
            if got["valid_written"] + got["quarantined_written"] != want["rows"]:
                problems.append(f"silver {table} cut {cut}: valid {got['valid_written']} + "
                                f"quarantined {got['quarantined_written']} != "
                                f"{want['rows']} bronze rows")
            if got["reasons"] != want["reasons"]:
                problems.append(f"silver {table} cut {cut}: reasons {got['reasons']} != "
                                f"injected {want['reasons']}")
            cat = facts.get(f"catalog.{table}.c{cut}")
            if cat is None or cat["partitions"] == 0 or cat["ok"] != cat["partitions"]:
                problems.append(f"catalog {table} cut {cut}: {cat}")
    for table, want in GOLD_VERSIONS.items():
        n = len(loaded) if want == "cuts" else want
        got = facts.get("versions", {}).get(table)
        if got != n:
            problems.append(f"versioned {table}: {got} versions, expected {n}")
    for query, r in sorted(facts.get("serving", {}).items()):
        if not r["equal"] or r["rows"] == 0:
            problems.append(f"serving {query}: written gold {r['rows']} rows, equal to "
                            f"in-memory gold: {r['equal']}; first difference (written, "
                            f"in memory): {r.get('first_diff')}")
    if not facts.get("serving"):
        problems.append("serving: no answers recorded")
    return problems
