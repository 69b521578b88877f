"""DuckDB oracle check for one run's untimed-pass results.

Runs tools/compare.py over the pass's parquet outputs, with each call's
`SparkEntry.oracleSql` query written next to them as compare.py expects,
so the comparison is exactly the repo's own (columns sorted by name,
cells as strings with floats at 10 significant digits, rows sorted,
dtypes equal). compare.py's DuckDB connections keep their temp files in
the working directory, so it is run inside the benchmark's scratch space.
"""
import json
import os
import subprocess
import sys


def check(compare_py, data_dir, results_dir, oracle_sql, tmp_dir, threads):
    """Return {call: None when it matches its oracle, else the reason}."""
    os.makedirs(tmp_dir, exist_ok=True)
    with open(os.path.join(results_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracle_sql, f)
    summary = os.path.join(tmp_dir, "compare.json")
    res = subprocess.run([sys.executable, compare_py, data_dir, results_dir, "--json", summary,
                          "-j", str(max(1, threads // 2))],
                         cwd=tmp_dir, capture_output=True, text=True, timeout=120)
    if not os.path.exists(summary):
        raise RuntimeError(f"compare.py exited {res.returncode}: {res.stderr[-2000:]}")
    with open(summary) as f:
        queries = json.load(f)["queries"]
    return {name: None if q["status"] == "pass" else q.get("reason", q["status"])
            for name, q in queries.items()}
