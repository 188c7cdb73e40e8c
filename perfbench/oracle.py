"""Oracle check of dumped graft results against DuckDB, with the hashing
rules of dev/compare.py (imported from it): same row count, same column
names (sorted, case-insensitive), and the same SHA-256 over rows in result
order with cells normalised by `norm_cell` and columns in sorted-name
order."""
import os
import sys

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "dev"))
from compare import table_hash  # noqa: E402

TABLES = ("events", "documents", "embeddings")

# A dump that is a directory of sink files, read back in the order of the
# oracle query it is checked against.
SINK_READS = {
    "q05_sink_rows": "SELECT conv_id, turn_idx, role, text, tool, sink, sample_type "
                     "FROM read_parquet('{path}/*/*.parquet', hive_partitioning = true) "
                     "ORDER BY sink, conv_id, turn_idx",
}


def check_dumps(input_dir, dumps, oracle_sql):
    """Check each dump against the oracle query of its name; a dump named
    `<query>@<n>` (the n-th unit's result) is checked against `<query>`."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = f"{input_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    expected = {}  # query -> (columns, rows, hash), each oracle query run once
    out = []
    for name in sorted(dumps):
        query, path = name.split("@")[0], dumps[name]
        try:
            if query in SINK_READS:
                tbl = con.sql(SINK_READS[query].format(path=path)).arrow()
            else:
                tbl = pq.read_table(path)
            scols = [c.lower() for c in tbl.column_names]
            shash = table_hash(scols, list(zip(*(tbl.column(c).to_pylist() for c in tbl.column_names))))
            if query not in expected:
                duck = con.sql(oracle_sql[query])
                dcols = [c.lower() for c in duck.columns]
                drows = duck.fetchall()
                expected[query] = (dcols, len(drows), table_hash(dcols, drows))
        except Exception as e:  # a failed read or oracle query is a failed check
            out.append((f"oracle:{name}", False, f"error {e}"))
            continue
        dcols, drows, dhash = expected[query]
        if sorted(scols) != sorted(dcols):
            out.append((f"oracle:{name}", False, f"schema {sorted(scols)} vs {sorted(dcols)}"))
        elif tbl.num_rows != drows:
            out.append((f"oracle:{name}", False, f"rows {tbl.num_rows} vs {drows}"))
        elif shash != dhash:
            out.append((f"oracle:{name}", False, f"hash mismatch ({tbl.num_rows} rows)"))
        else:
            out.append((f"oracle:{name}", True, f"{tbl.num_rows} rows"))
    return out
