"""Output checks, run after the timed region.

Fixture queries go through tools/check_oracle.py, the repository's comparer
of Spark output with `SparkEntry.oracleSql` run by DuckDB over the same
parquet tables; queries with no oracle must return at least one row. Each
hot query of the ingest workload is compared with the generator's exact
result (gen.expected_ingest), and the compacted tree with the generator's
row and key counts.
"""
import json
import math
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

ORACLE_TIMEOUT_S = 120

# Result columns of each hot query of hot_queries.kql, in the order of the
# rows gen.expected_ingest gives.
HOT_COLUMNS = {
    "day_type_counts": ["day", "event_type", "n"],
    "window_bin_summarize": ["hour", "event_type", "n", "total"],
    "dcount_users": ["event_type", "users"],
    "value_percentiles": ["event_type", "percentile_value_50", "percentile_value_90",
                          "percentile_value_99"],
    "top_values": ["value"],
    "has_term": ["day", "n"],
    "dimension_join": ["category", "n", "total"],
    "make_series": ["event_type", "ts", "n"],
    "dedup_latest": ["n"],
    "user_lookup": ["ts", "event_type", "value"],
}


def _read(path):
    """The parquet files of one check directory as a pyarrow Table, with
    timestamps as integer microseconds."""
    t = pq.ParquetDataset(path).read()
    cols = [c.cast(pa.timestamp("us")).cast(pa.int64()) if pa.types.is_timestamp(c.type)
            else c for c in t.columns]
    return pa.table(cols, names=t.column_names)


def _rows(path):
    return pq.ParquetDataset(path).read().num_rows if os.path.isdir(path) else 0


def _same(x, y):
    """Exact for integers and strings; floats within a relative 1e-9, since
    sums and interpolated percentiles depend on the order of the additions."""
    if isinstance(x, float) or isinstance(y, float):
        return (isinstance(x, (int, float)) and isinstance(y, (int, float))
                and math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9))
    return x == y


def diff_rows(got, want):
    """None when the row lists are equal, else the first difference."""
    if len(got) != len(want):
        return f"{len(got)} rows vs expected {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        g, w = (g, w) if isinstance(w, list) else ([g], [w])
        if len(g) != len(w) or not all(_same(a, b) for a, b in zip(g, w)):
            return f"row {i}: {g!r} vs expected {w!r}"
    return None


def hot_rows(name, table):
    """A hot query's result as rows in the generator's order."""
    cols = HOT_COLUMNS[name]
    missing = [c for c in cols if c not in table.column_names]
    if missing:
        raise ValueError(f"missing columns {missing} in {table.column_names}")
    rows = [list(r) for r in zip(*(table.column(c).to_pylist() for c in cols))]
    if name == "top_values":
        return sorted((r[0] for r in rows), reverse=True)
    return sorted(rows)


def check_fixture(checks, check_dir, data_dir, root):
    """{query: (rows, error or None)} for the fixture workloads' checks."""
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    out = {}
    for name, c in checks.items():
        rows = _rows(os.path.join(check_dir, name))
        if c.get("error"):
            out[name] = (rows, c["error"])
        else:
            out[name] = (rows, None if name in oracles or rows > 0 else "no rows")
    compare = [n for n in oracles if n in out and out[n][1] is None]
    if not compare:
        return out
    try:
        p = subprocess.run(
            [sys.executable, os.path.join(root, "tools", "check_oracle.py"),
             check_dir, data_dir] + compare,
            capture_output=True, text=True, timeout=ORACLE_TIMEOUT_S)
        stdout, status = p.stdout, f"exit {p.returncode}: {p.stderr.strip()[-300:]}"
    except subprocess.TimeoutExpired:
        stdout, status = "", f"timed out after {ORACLE_TIMEOUT_S} s"
    passed, failed = set(), {}
    for line in stdout.splitlines():
        if line.startswith("PASS "):
            passed.update(line.split(":", 1)[1].split())
        elif line.startswith("FAIL "):
            n, why = line[5:].split(": ", 1)
            failed[n] = why
    for n in compare:
        if n not in passed:
            out[n] = (out[n][0], failed.get(n, f"no result from check_oracle.py ({status})"))
    return out


def check_ingest(checks, manifest, check_dir):
    """{check: (rows, error or None)} for the ingest workload."""
    exp = manifest["expected"]
    out = {}
    for name, want in exp["hot"].items():
        c = checks.get(name, {"error": "not run"})
        if c.get("error"):
            out[name] = (0, c["error"])
            continue
        try:
            got = hot_rows(name, _read(os.path.join(check_dir, name)))
        except (OSError, TypeError, ValueError, pa.ArrowException) as e:
            out[name] = (0, f"unreadable result: {e}")
            continue
        out[name] = (len(got), diff_rows(got, want))
    c = checks.get("ingest", {"error": "not run"})
    if c.get("error"):
        out["ingest"] = (0, c["error"])
        return out
    errs = []
    if c["distinct_keys"] != exp["distinct_keys"]:
        errs.append(f"distinct (_ts, _dedup) keys {c['distinct_keys']} "
                    f"vs {exp['distinct_keys']}")
    if c["compacted_rows"] != exp["distinct_keys"]:
        errs.append(f"compacted rows {c['compacted_rows']} vs {exp['distinct_keys']}")
    if c["segment_rows"] != manifest["appended_rows"]:
        errs.append(f"segment rows {c['segment_rows']} vs appended "
                    f"{manifest['appended_rows']}")
    out["ingest"] = (c["compacted_rows"], "; ".join(errs) or None)
    return out
