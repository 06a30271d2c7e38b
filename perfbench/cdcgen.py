"""Seeded known-answer CDC generator for the pipeline workloads.

Writes the Guidewire CDA source layout the engine reads
(``<root>/manifest.json`` + ``<root>/<table>/<fingerprint>/<ts>/part-*.parquet``)
and keeps every change row in memory, so the expected merged state of each
(table, fingerprint) is computed here with numpy/pandas, independently of
Spark.

Change mix: an initial load (op 0), then inserts (op 2) of new keys,
updates (op 4) whose keys are Zipf-skewed over the live key space (hot keys
are updated many times, several times inside one folder) and deletes (op 1).
Every (table, fingerprint) is its own change stream with its own key range,
because the engine keeps one merged snapshot per fingerprint.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SEQ_COL = "gwcbi___seqval_hex"
OP_COL = "gwcbi___operation"
OP_INITIAL, OP_DELETE, OP_INSERT, OP_UPDATE = 0, 1, 2, 4
FILES_PER_FOLDER = 4
TS0 = 1_600_000_000_000  # epoch millis of the first timestamp folder
TS_STEP = 60_000
_HEX = np.frombuffer(b"0123456789ABCDEF", dtype=np.uint8)


def seqval_hex(seqs: np.ndarray) -> pa.Array:
    """Fixed-width upper-case hex seqvals, vectorised (the feed's format)."""
    shifts = np.arange(60, -4, -4, dtype=np.uint64)
    digits = (seqs.astype(np.uint64)[:, None] >> shifts) & np.uint64(15)
    raw = _HEX[digits.astype(np.intp)].tobytes()
    return pa.array(np.frombuffer(raw, dtype="S16").astype(str))


@dataclass
class Stream:
    """All change rows of one (table, fingerprint), in sequence order."""

    table: str
    fingerprint: str
    key_base: int
    next_key: int = 0
    live: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    chunks: list[pd.DataFrame] = field(default_factory=list)

    def frame(self) -> pd.DataFrame:
        return pd.concat(self.chunks, ignore_index=True)


class CdcSource:
    """A CDA source tree that grows one timestamp folder at a time."""

    def __init__(self, root: Path, seed: int):
        self.root = root
        self.rng = np.random.default_rng(seed)
        self.seq = 0
        self.streams: dict[tuple[str, str], Stream] = {}
        self.history: dict[str, dict[str, int]] = {}
        self.manifest_ts: dict[str, int] = {}
        self.change_rows = 0
        self.change_bytes = 0
        root.mkdir(parents=True, exist_ok=True)

    def add_stream(self, table: str, fingerprint: str, started_at: int = 0) -> None:
        key_base = (len(self.streams) + 1) * 1_000_000_000
        self.streams[(table, fingerprint)] = Stream(table, fingerprint, key_base)
        self.history.setdefault(table, {})[fingerprint] = started_at

    def _keys(self, s: Stream, n: int) -> np.ndarray:
        keys = np.arange(s.key_base + s.next_key, s.key_base + s.next_key + n, dtype=np.int64)
        s.next_key += n
        return keys

    def deliver(self, table: str, fingerprint: str, ts: int, n_initial=0, n_insert=0,
                n_update=0, n_delete=0) -> None:
        """Write one timestamp folder of changes for one stream."""
        s = self.streams[(table, fingerprint)]
        rng = self.rng
        parts, ops = [], []
        if n_initial:
            parts.append(self._keys(s, n_initial))
            ops.append(np.full(n_initial, OP_INITIAL, np.int32))
        if n_insert:
            parts.append(self._keys(s, n_insert))
            ops.append(np.full(n_insert, OP_INSERT, np.int32))
        if len(s.live) and n_update:
            # Zipf over a per-delivery shuffle of the live keys: a few hot
            # keys take most updates, and which keys are hot changes
            rank = (rng.zipf(1.3, n_update) - 1) % len(s.live)
            parts.append(rng.permutation(s.live)[rank])
            ops.append(np.full(n_update, OP_UPDATE, np.int32))
        if len(s.live) and n_delete:
            parts.append(rng.choice(s.live, min(n_delete, len(s.live)), replace=False))
            ops.append(np.full(len(parts[-1]), OP_DELETE, np.int32))
        ids = np.concatenate(parts)
        op = np.concatenate(ops)
        # interleave the ops in sequence order, as a transaction log does
        order = rng.permutation(len(ids))
        ids, op = ids[order], op[order]
        seqs = np.arange(self.seq, self.seq + len(ids), dtype=np.int64)
        self.seq += len(ids)
        v = rng.random(len(ids))
        w = rng.integers(0, 1_000_000, len(ids))
        cols = {
            "id": pa.array(ids, pa.int64()),
            SEQ_COL: seqval_hex(seqs),
            OP_COL: pa.array(op, pa.int32()),
            "gwcbi___tx": pa.array(rng.integers(0, 1 << 40, len(ids)), pa.int64()),
            "v": pa.array(v),
            "w": pa.array(w, pa.int64()),
            "note": pc.cast(pa.array(w, pa.int64()), pa.string()),
        }
        tbl = pa.table(cols)
        folder = self.root / table / fingerprint / str(ts)
        folder.mkdir(parents=True, exist_ok=True)
        step = -(-len(ids) // FILES_PER_FOLDER)
        for f in range(FILES_PER_FOLDER):
            path = folder / f"part-{f:05d}.parquet"
            pq.write_table(tbl.slice(f * step, step), path)
            self.change_bytes += path.stat().st_size
        self.change_rows += len(ids)
        s.chunks.append(
            tbl.drop_columns(["gwcbi___tx"]).to_pandas().assign(_seq=seqs)
        )
        s.live = _live_after(s.live, ids, op)

    def commit(self, ts_by_table: dict[str, int]) -> None:
        """Advance the manifest watermark (written atomically)."""
        self.manifest_ts.update(ts_by_table)
        doc = {
            t: {
                "lastSuccessfulWriteTimestamp": str(ts),
                "totalProcessedRecordsCount": 0,
                "dataFilesPath": str(self.root / t),
                "schemaHistory": {fp: str(at) for fp, at in self.history[t].items()},
            }
            for t, ts in sorted(self.manifest_ts.items())
        }
        tmp = self.root / "manifest.json.tmp"
        tmp.write_text(json.dumps(doc, indent=1))
        tmp.replace(self.root / "manifest.json")

    def expected(self, table: str, fingerprint: str) -> pd.DataFrame:
        return last_state(self.streams[(table, fingerprint)].frame())


def _live_after(live: np.ndarray, ids: np.ndarray, op: np.ndarray) -> np.ndarray:
    """Live keys after a folder (generation only; the checked answer is
    ``last_state``)."""
    added = ids[(op == OP_INITIAL) | (op == OP_INSERT)]
    deleted = ids[op == OP_DELETE]
    return np.setdiff1d(np.union1d(live, added), deleted)


def last_state(changes: pd.DataFrame) -> pd.DataFrame:
    """The engine's merge semantics, restated in pandas: per key the row
    survives iff its last anchor (initial/insert) outranks its last delete,
    and the payload is the highest-sequence non-delete row; orphan updates
    are no-ops. Returns the snapshot columns (op dropped, seqval kept)."""
    c = changes.sort_values("_seq", kind="stable")
    anchor = c[c[OP_COL].isin((OP_INITIAL, OP_INSERT))].groupby("id")["_seq"].max()
    delete = c[c[OP_COL] == OP_DELETE].groupby("id")["_seq"].max()
    payload = c[c[OP_COL] != OP_DELETE].drop_duplicates("id", keep="last").set_index("id")
    last_delete = delete.reindex(anchor.index).fillna(-1)
    survivors = anchor.index[anchor.to_numpy() > last_delete.to_numpy()]
    out = payload.loc[survivors].reset_index()
    return out.drop(columns=[OP_COL, "_seq"])


def digest(df: pd.DataFrame) -> tuple[int, int]:
    """Order-independent (rows, digest) of a snapshot: the wrapping uint64
    sum of per-row hashes over name-sorted columns."""
    df = df[sorted(df.columns)].reset_index(drop=True)
    for col in df.columns:
        if df[col].dtype == object or str(df[col].dtype).startswith("string"):
            df[col] = df[col].astype(object)
    h = pd.util.hash_pandas_object(df, index=False).to_numpy()
    return len(df), int(h.sum(dtype=np.uint64))


def read_snapshot(path: Path) -> pd.DataFrame:
    """A merged snapshot written by the engine, read without Spark."""
    return pq.read_table(path).to_pandas()


def tree_rows(path: Path) -> int:
    """Rows in every parquet file under ``path``, from footers only."""
    return sum(
        pq.read_metadata(p).num_rows
        for p in path.rglob("*.parquet")
        if not p.name.startswith((".", "_"))
    )
