"""Output checks of the query suite: canonical result hashes.

The canonical form is the one the repository's parity gate uses:
columns sorted by name, every value rendered as text with floats at 9
significant digits, rows sorted.  `record` computes the expected
hashes from the DuckDB oracle SQL of each query; `compare` hashes the
engine's outputs and compares.
"""

import hashlib
import json
import math
import os

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else f"{v:.9g}"
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)


def digest(rows, cols):
    h = hashlib.sha256()
    h.update("|".join(sorted(cols)).encode())
    for line in canon(rows, cols):
        h.update(b"\n" + line.encode())
    return f"{len(rows)}:{h.hexdigest()}"


def connect(fixture):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(fixture, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def output_hash(con, qdir):
    res = con.execute(f"SELECT * FROM '{qdir}/*.parquet'")
    return digest(res.fetchall(), [d[0] for d in res.description])


def record(fixture, oracle_sql, names):
    """Expected hash of each named query, from its oracle SQL."""
    con = connect(fixture)
    out = {}
    for name in names:
        res = con.execute(oracle_sql[name]).arrow()
        rows = [tuple(c[i].as_py() for c in res.columns) for i in range(res.num_rows)]
        out[name] = digest(rows, res.schema.names)
    return out


def compare(fixture, check_dir, expected):
    """Names of queries whose output is missing or hashes differently."""
    con = connect(fixture)
    bad = {}
    for name, want in sorted(expected.items()):
        qdir = os.path.join(check_dir, name)
        if not os.path.isdir(qdir):
            bad[name] = "no output"
            continue
        got = output_hash(con, qdir)
        if got != want:
            bad[name] = f"hash {got[:24]} != {want[:24]}"
    return bad


if __name__ == "__main__":
    # record the expected hashes:
    #   checks.py <fixture> <oracle_sql.json> <out.json> <query names...>
    # oracle_sql.json is the file `graft.Verify` writes next to its outputs
    import sys
    fixture, oracle, out = sys.argv[1:4]
    hashes = record(fixture, json.load(open(oracle)), sys.argv[4:])
    json.dump(hashes, open(out, "w"), indent=1, sort_keys=True)
