"""Order-independent digests of output tables, computed alike in Python
(for the pure-Python oracle's frames) and in Spark (for the program's
outputs, without collecting them).

A row's hash is the first 60 bits of the SHA-256 of its canonical text:
fields joined by U+001F, a missing value written as U+0000, integers in
decimal and doubles as ``floor(x * 1e6 + 0.5)`` so both sides round the
same IEEE value the same way. A table's digest is its row count plus the
sum of its row hashes modulo 2**64: independent of row order and
partitioning, sensitive to a missing, extra or changed row.
"""

from __future__ import annotations

import hashlib
import math
import numbers

TABLE_COLUMNS = {
    "triples": ("conv_id", "turn_idx", "subj", "pred", "obj", "obj_type"),
    "nodes": ("qid", "label", "node_type", "lat", "lon", "canonical_id"),
    "edges": ("src", "pred", "dst"),
}
SEP, MISSING = "\x1f", "\x00"
HEX_DIGITS = 15  # 60 bits: a Spark long holds it without sign trouble


def _field(v) -> str:
    if v is None:
        return MISSING
    if isinstance(v, numbers.Integral):
        return str(int(v))
    if isinstance(v, numbers.Real):
        f = float(v)
        return MISSING if math.isnan(f) else str(math.floor(f * 1e6 + 0.5))
    return str(v)


def row_hash(values) -> int:
    text = SEP.join(_field(v) for v in values)
    return int(hashlib.sha256(text.encode()).hexdigest()[:HEX_DIGITS], 16)


def make_digest(count: int, hash_sum: int) -> dict:
    return {"count": int(count), "hash": f"{int(hash_sum) % (1 << 64):016x}"}


def digest_rows(rows) -> dict:
    n, total = 0, 0
    for r in rows:
        n += 1
        total += row_hash(r)
    return make_digest(n, total)


def digest_frame(pdf, table: str) -> dict:
    """Digest of a pandas frame over the columns the oracle defines."""
    cols = TABLE_COLUMNS[table]
    return digest_rows(zip(*(pdf[c].tolist() for c in cols)))


def spark_aggregates(df, table: str) -> list:
    """``[count, hash sum]`` aggregate columns equal to ``digest_frame`` of
    the same rows; usable with ``df.agg`` or ``df.observe``."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType, StringType

    fields = []
    for c in TABLE_COLUMNS[table]:
        dtype = df.schema[c].dataType
        col = F.col(c)
        if isinstance(dtype, (DoubleType, FloatType)):
            col = F.floor(col.cast("double") * 1e6 + 0.5)
        if not isinstance(dtype, StringType):
            col = col.cast("string")
        fields.append(F.coalesce(col, F.lit(MISSING)))
    h = F.conv(F.substring(F.sha2(F.concat_ws(SEP, *fields), 256),
                           1, HEX_DIGITS), 16, 10).cast("decimal(38,0)")
    return [F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")]


def from_row(row) -> dict:
    return make_digest(row["n"], row["h"] or 0)


def spark_digest(df, table: str) -> dict:
    return from_row(df.agg(*spark_aggregates(df, table)).first())
