"""Independent reference answers the benchmark checks the engine against.

- :func:`fold_log` folds a change log serially, last write wins per key
  (no Spark).
- :func:`row_digest` is an order-insensitive digest of a row set.
- :func:`duck_snapshot` rebuilds a table's current snapshot in DuckDB
  straight from the ``_lake`` metadata and data files, reconstructing
  merge-on-read deltas with ``row_number()``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import pyarrow.parquet as pq

KEY = ("conv_id", "turn_idx")
# canonical row: conv_id, turn_idx, role, text, tool, ts (epoch s), lsn
ROW_COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn")


def fold_log(log_dir: str) -> dict[tuple, tuple]:
    """Serial last-write-wins fold of every chunk in ``log_dir``."""
    state: dict[tuple, tuple] = {}
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "chunk-*.parquet"))):
        t = pq.read_table(
            path, columns=["lsn", "txn_seq", "op", "conv_id", "turn_idx", "after_json"]
        )
        events.extend(zip(*(t.column(i).to_pylist() for i in range(t.num_columns))))
    events.sort(key=lambda e: (e[0], e[1]))
    for lsn, _seq, op, conv, turn, after in events:
        key = (conv, turn)
        if op == "delete":
            state.pop(key, None)
            continue
        p = json.loads(after) if after else {}
        ts = p.get("ts")
        state[key] = (
            conv, turn, p.get("role"), p.get("text"), p.get("tool"),
            None if ts is None else int(ts), lsn,
        )
    return state


def row_digest(rows) -> tuple[int, str]:
    """``(count, hex)``: a sum mod 2**64 of per-row BLAKE2b digests, so
    row order does not matter and any changed value does."""
    total = 0
    n = 0
    for r in rows:
        h = hashlib.blake2b(repr(tuple(r)).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) & ((1 << 64) - 1)
        n += 1
    return n, format(total, "016x")


def table_rows(df) -> list[tuple]:
    """Canonical rows of a Spark DataFrame read from a transcripts table."""
    from pyspark.sql import functions as F

    tool = F.col("tool") if "tool" in df.columns else F.lit(None).cast("string")
    pdf = df.select(
        "conv_id", "turn_idx", "role", "text", tool.alias("tool"),
        F.col("ts").cast("long").alias("ts"),
        F.col("_cdc_lsn").cast("long").alias("lsn"),
    ).toPandas()
    pdf = pdf.astype(object).where(pdf.notna(), None)
    return [
        (c, int(t), r, x, o, None if s is None else int(s), int(lsn))
        for c, t, r, x, o, s, lsn in pdf.itertuples(index=False, name=None)
    ]


def snapshot_doc(table_dir: str) -> dict:
    """The newest published snapshot document of a lake table."""
    newest = sorted(glob.glob(os.path.join(table_dir, "_lake", "v*.json")))[-1]
    with open(newest) as fh:
        return json.load(fh)


def snapshot_files(table_dir: str) -> list[dict]:
    """File entries of the newest snapshot (per-entry bucket ownership)."""
    doc = snapshot_doc(table_dir)
    if "manifest_list" not in doc:
        return list(doc.get("files") or [])
    out = []
    for m in doc["manifest_list"]:
        with open(os.path.join(table_dir, m["path"])) as fh:
            files = json.load(fh)["files"]
        owned = set(m["buckets"])
        out.extend(f for f in files if f["bucket"] in owned)
    return out


def duck_snapshot(con, table_dir: str, view: str) -> None:
    """Create DuckDB view ``view`` holding the live rows of the table's
    newest snapshot: latest LSN per key, deltas winning ties, deletes
    dropped."""
    files = snapshot_files(table_dir)
    paths = [os.path.join(table_dir, f["path"]) for f in files]
    con.execute(
        f"CREATE OR REPLACE VIEW {view}_raw AS SELECT * FROM "
        f"read_parquet({paths!r}, union_by_name=true)"
    )
    cols = {r[0] for r in con.execute(f"DESCRIBE {view}_raw").fetchall()}
    op = "_op" if "_op" in cols else "CAST(NULL AS VARCHAR)"
    tool = "tool" if "tool" in cols else "CAST(NULL AS VARCHAR)"
    con.execute(
        f"""
        CREATE OR REPLACE VIEW {view} AS
        SELECT conv_id, turn_idx, role, text, {tool} AS tool,
               CAST(epoch(ts) AS BIGINT) AS ts,
               TRY_CAST(_cdc_lsn AS BIGINT) AS lsn
        FROM (
            SELECT *, {op} AS _opx, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY TRY_CAST(_cdc_lsn AS BIGINT) DESC NULLS LAST,
                         ({op} IS NOT NULL) DESC
            ) AS rn
            FROM {view}_raw
        )
        WHERE rn = 1 AND (_opx IS NULL OR _opx <> 'delete')
        """
    )


def lineage_entries(table_dir: str) -> list[dict]:
    """Every commit's own lineage entry, read from the snapshot files."""
    out = []
    for path in sorted(glob.glob(os.path.join(table_dir, "_lake", "v*.json"))):
        with open(path) as fh:
            doc = json.load(fh)
        for e in doc.get("lineage") or []:
            if e.get("snapshot_version") == doc["version"]:
                out.append(e)
    return out
