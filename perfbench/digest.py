"""Order-insensitive digest of a lane's output, with the oracle checker's
normalization: columns sorted by name; ints, floats and bools kept as
numbers; ``datetime`` rendered ``%Y-%m-%d %H:%M:%S`` and ``date`` as
``%Y-%m-%d 00:00:00`` (a DuckDB DATE and a Spark midnight TIMESTAMP are
equal); everything else ``str()``; rows sorted with a None-safe key."""
import datetime
import glob
import hashlib
import os


def norm(x):
    if x is None:
        return None
    if isinstance(x, bool):
        return bool(x)
    if isinstance(x, int):
        return int(x)
    if isinstance(x, float):
        return float(x)
    if isinstance(x, datetime.datetime):
        return x.strftime('%Y-%m-%d %H:%M:%S')
    if isinstance(x, datetime.date):
        return x.strftime('%Y-%m-%d 00:00:00')
    return str(x)


def canon(cols, rows):
    """(sorted column names, normalized rows in canonical order)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: [(x is None, str(x)) for x in t])
    return [cols[i] for i in order], out


def digest(cols, rows):
    c, r = canon(cols, rows)
    h = hashlib.sha256(repr(c).encode())
    for t in r:
        h.update(repr(t).encode())
        h.update(b"\n")
    return h.hexdigest()


def read_parquet_dir(con, path):
    """(column names, column types, rows) of a Spark parquet output dir."""
    if not glob.glob(os.path.join(path, "*.parquet")):
        raise FileNotFoundError(f"no parquet files under {path}")
    rel = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    cols = [d[0] for d in rel.description]
    types = [str(d[1]) for d in rel.description]
    return cols, types, rel.fetchall()


def summary(cols, types, rows):
    """What a stored expectation holds: digest, row count, schema."""
    return {
        "digest": digest(cols, rows),
        "rows": len(rows),
        "schema": sorted(f"{c}:{t}" for c, t in zip(cols, types)),
    }
