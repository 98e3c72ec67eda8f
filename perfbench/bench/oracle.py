"""Checks query_mix results against the DuckDB oracle.

Both sides go through DuckDB into pandas and are normalized the way the
repository's oracle gate (tools/check_oracle.py) does it: columns sorted by
name, every value stringified, rows sorted. A result matches when the
digests (hashes of the normalized frames) of the two sides are equal.
"""
import datetime as dt
import hashlib
import json
import re
from decimal import Decimal

import duckdb
import pandas as pd
import pyarrow as pa

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    """tools/check_oracle.py's normalization."""
    df = df.reindex(sorted(df.columns), axis=1)
    s = df.astype(str)
    order = s.sort_values(by=list(s.columns)).index
    return s.loc[order].reset_index(drop=True)


def digest(df: pd.DataFrame) -> str:
    n = norm(df)
    h = hashlib.sha256("\x1f".join(n.columns).encode())
    for row in n.itertuples(index=False):
        h.update(("\x1e" + "\x1f".join(row)).encode())
    return h.hexdigest()


# ---------------------------------------------- Spark result -> Arrow --

_DECIMAL = re.compile(r"decimal\((\d+),\s*(\d+)\)")
_SIMPLE = {"byte": pa.int8(), "short": pa.int16(), "integer": pa.int32(),
           "long": pa.int64(), "float": pa.float32(), "double": pa.float64(),
           "string": pa.string(), "boolean": pa.bool_(), "date": pa.date32(),
           "timestamp": pa.timestamp("us"), "timestamp_ntz": pa.timestamp("us"),
           "binary": pa.binary(), "null": pa.null()}
_EPOCH = dt.datetime(1970, 1, 1)


def arrow_type(t):
    if isinstance(t, str):
        m = _DECIMAL.fullmatch(t)
        if m:
            return pa.decimal128(int(m.group(1)), int(m.group(2)))
        if t.startswith("varchar") or t.startswith("char"):
            return pa.string()
        return _SIMPLE[t]
    if t["type"] == "array":
        return pa.list_(arrow_type(t["elementType"]))
    if t["type"] == "struct":
        return pa.struct([(f["name"], arrow_type(f["type"])) for f in t["fields"]])
    if t["type"] == "map":
        return pa.map_(arrow_type(t["keyType"]), arrow_type(t["valueType"]))
    raise ValueError(f"unsupported Spark type {t}")


def decode(v, t):
    """One JSON-encoded Spark value (see perfbench.Encode) as a Python value
    Arrow accepts for `arrow_type(t)`."""
    if v is None:
        return None
    if isinstance(t, str):
        if _DECIMAL.fullmatch(t):
            return Decimal(v)
        if t in ("float", "double"):
            return float(v)
        if t in ("timestamp", "timestamp_ntz"):
            return _EPOCH + dt.timedelta(microseconds=v)
        if t == "date":
            return dt.date.fromisoformat(v)
        if t == "binary":
            return bytes.fromhex(v)
        return v
    if t["type"] == "array":
        return [decode(x, t["elementType"]) for x in v]
    if t["type"] == "struct":
        return {f["name"]: decode(x, f["type"]) for f, x in zip(t["fields"], v)}
    if t["type"] == "map":
        return [(decode(k, t["keyType"]), decode(x, t["valueType"])) for k, x in v]
    raise ValueError(f"unsupported Spark type {t}")


def spark_frame(con, result):
    schema = json.loads(result["schema"])
    fields = schema["fields"]
    table = pa.Table.from_arrays(
        [pa.array([decode(r[i], f["type"]) for r in result["rows"]], type=arrow_type(f["type"]))
         for i, f in enumerate(fields)],
        names=[f["name"] for f in fields])
    con.register("spark_result", table)
    try:
        return con.execute("SELECT * FROM spark_result").df()
    finally:
        con.unregister("spark_result")


class Oracle:
    """DuckDB over the same parquet tables."""

    def __init__(self, sf_dir):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def check(self, result, sql):
        """(ok, detail): does the Spark result's digest match the oracle's?"""
        got = spark_frame(self.con, result)
        want = self.con.execute(sql).df()
        if digest(got) == digest(want):
            return True, ""
        return False, (f"digest mismatch: {len(got)} rows {sorted(got.columns)} vs "
                       f"oracle {len(want)} rows {sorted(want.columns)}")
