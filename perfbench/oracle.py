"""Order-insensitive result digests for the catalog rows.

Values are canonicalized with the rule of `tools/oracle_check.py`:
columns sorted by name, floats by `repr`, NULLs and bytes tagged, every
other value by `str`, rows sorted. The golden digests in
`golden/catalog.json` come from DuckDB running each row's oracle SQL;
`digest_parquet` digests the engine's result the same way.
"""
import glob
import hashlib
import os


def canon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = ("f", repr(v))
            elif v is None:
                v = ("null",)
            elif isinstance(v, (bytes, bytearray)):
                v = ("b", bytes(v).hex())
            else:
                v = ("v", str(v))
            vals.append(v)
        out.append(tuple(vals))
    out.sort()
    return [colnames[i] for i in order], out


def digest(rows, colnames):
    cols, canon_rows = canon(rows, colnames)
    h = hashlib.sha256(repr((cols, canon_rows)).encode("utf-8")).hexdigest()
    return {"rows": len(canon_rows), "sha256": h}


def digest_parquet(result_dir):
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet output in {result_dir}")
    rows, cols = [], None
    for f in files:
        tbl = pq.read_table(f)
        cols = tbl.column_names
        rows.extend(tuple(r[c] for c in cols) for r in tbl.to_pylist())
    return digest(rows, cols)
