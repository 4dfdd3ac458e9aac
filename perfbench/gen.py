"""Seeded input generators for the ``cdc_replay`` workload and the
reconcile round of ``query_mix``.

Both are written with numpy/pyarrow only, so the engine under test sees
nothing but the parquet files they leave on disk. Each generator returns
the answer the engine must reproduce (or the facts the independent
oracles need): the same seed always yields byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-01-01T00:00:00Z in epoch microseconds; events are 1 ms apart so
# commit order (commit_ms, event_id) is the generation order.
_BASE_US = 1_704_067_200_000_000
_EVENT_TYPES = np.array(["view", "click", "purchase", "signup"])
TOMBSTONE = "error"  # operators/cdc.py: event_type 'error' is a delete
MIX = (0.6, 0.3, 0.1)  # insert/update/delete, the reference's benchmark.sh mix
POISON_SHARE = 0.02
ZIPF_A = 1.3
RECON_SHARE = 0.01  # of the source keys, for each of missing/extra/mismatch
NOISE_SHARE = 0.05  # rows with float noise below the comparison tolerance

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


@dataclass
class CdcInput:
    dir: str
    files: list[str]
    snapshot_events: int
    incremental_events: int
    poison_rows: int
    input_bytes: int
    mix: dict[str, int] = field(default_factory=dict)


def _events_table(event_id, user_id, event_type, value, k) -> pa.Table:
    props = np.char.add(np.char.add('{"k": ', k.astype(str)), "}")
    return pa.table(
        [
            pa.array(event_id, pa.int64()),
            pa.array(_BASE_US + event_id * 1000, pa.int64()).cast(
                pa.timestamp("us")
            ),
            pa.array(user_id, pa.int64()),
            pa.array(event_type, pa.string()),
            pa.array(value, pa.float64()),
            pa.array(props, pa.string()),
        ],
        schema=EVENTS_SCHEMA,
    )


def gen_cdc(
    out_dir: str,
    seed: int,
    n_keys: int,
    n_files: int,
    events_per_file: int,
) -> CdcInput:
    """Change log as parquet arrival files in ``out_dir``.

    File 0 is the snapshot: one insert per key ``0..n_keys-1``. Files
    1..n_files each hold ``events_per_file`` events: inserts of fresh
    keys, and updates/deletes of zipf-skewed existing keys, in the
    insert/update/delete ``MIX``. A fixed ``POISON_SHARE`` of the
    incremental rows matches the pipeline's poison predicate (``value <
    1`` or ``props.k > 90``); every other row has ``value >= 1`` and
    ``k <= 90``. Values are multiples of 0.25, so every sum the MV keeps
    is exact. Arrival order is pinned through increasing mtimes.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    files: list[str] = []

    def write(i: int, table: pa.Table) -> None:
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table, path)
        files.append(path)

    ids = np.arange(n_keys, dtype=np.int64)
    write(
        0,
        _events_table(
            ids,
            ids,
            rng.choice(_EVENT_TYPES, n_keys),
            rng.integers(4, 4000, n_keys) / 4.0,
            rng.integers(0, 91, n_keys),
        ),
    )
    # hot keys are a random subset of the snapshot keys, not 0..k
    perm = rng.permutation(n_keys)
    next_id, next_key = n_keys, n_keys
    counts = {"insert": 0, "update": 0, "delete": 0}
    poison = 0
    for i in range(1, n_files + 1):
        n = events_per_file
        kind = rng.choice(3, n, p=list(MIX))
        hot = perm[(rng.zipf(ZIPF_A, n) - 1) % n_keys]
        n_ins = int((kind == 0).sum())
        key = hot.copy()
        key[kind == 0] = np.arange(next_key, next_key + n_ins)
        next_key += n_ins
        etype = rng.choice(_EVENT_TYPES, n).astype(object)
        etype[kind == 2] = TOMBSTONE
        value = rng.integers(4, 4000, n) / 4.0
        k = rng.integers(0, 91, n)
        bad = rng.random(n) < POISON_SHARE
        by_value = rng.random(n) < 0.5
        value[bad & by_value] = rng.integers(0, 4, int((bad & by_value).sum())) / 4.0
        k[bad & ~by_value] = rng.integers(91, 101, int((bad & ~by_value).sum()))
        poison += int(bad.sum())
        for j, name in enumerate(("insert", "update", "delete")):
            counts[name] += int((kind == j).sum())
        write(
            i,
            _events_table(
                np.arange(next_id, next_id + n, dtype=np.int64),
                key,
                etype,
                value,
                k,
            ),
        )
        next_id += n
    # the file source admits files oldest-mtime first
    for j, path in enumerate(files):
        os.utime(path, (1_700_000_000 + j, 1_700_000_000 + j))
    return CdcInput(
        dir=out_dir,
        files=files,
        snapshot_events=n_keys,
        incremental_events=n_files * events_per_file,
        poison_rows=poison,
        input_bytes=sum(os.path.getsize(p) for p in files),
        mix=counts,
    )


@dataclass
class ReconcileInput:
    source: str
    target: str
    rows_source: int
    rows_target: int
    expected: dict[str, int]


_RECON_SCHEMA = pa.schema(
    [
        ("k1", pa.int64()),
        ("k2", pa.int32()),
        ("d", pa.float64()),
        ("l", pa.int64()),
        ("s", pa.string()),
        ("t", pa.timestamp("us", tz="UTC")),
    ]
)


def _recon_table(k1, k2, d, l_, s, t) -> pa.Table:
    return pa.table(
        [
            pa.array(k1, pa.int64()),
            pa.array(k2, pa.int32()),
            pa.array(d, pa.float64()),
            pa.array(l_, pa.int64()),
            pa.array(s, pa.string()),
            pa.array(t, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        ],
        schema=_RECON_SCHEMA,
    )


def gen_reconcile(
    out_dir: str,
    seed: int,
    n_rows: int,
    n_files: int = 8,
) -> ReconcileInput:
    """Source/target pair keyed by ``(k1, k2)`` with typed columns
    (double, long, string, timestamp).

    The target drops ``RECON_SHARE`` of the source keys (``missing``),
    adds as many new keys (``extra``), changes one column of as many
    other keys beyond the 1e-4 float tolerance (``mismatch``), and adds
    float noise of 1e-6 to ``NOISE_SHARE`` of the remaining
    rows, which must still compare equal. Rows are shuffled so keys
    arrive in no particular order.
    """
    rng = np.random.default_rng(seed)
    idx = rng.permutation(n_rows).astype(np.int64)
    k1, k2 = idx // 8, (idx % 8).astype(np.int32)
    d = rng.integers(0, 10_000_000, n_rows) / 100.0
    l_ = rng.integers(-(2**40), 2**40, n_rows)
    s = np.char.add("s", rng.integers(0, 1_000_000, n_rows).astype(str)).astype(
        object
    )
    t = _BASE_US + rng.integers(0, 365 * 86_400, n_rows) * 1_000_000

    n_cls = int(n_rows * RECON_SHARE)
    pick = rng.permutation(n_rows)
    missing = pick[:n_cls]
    mismatch = pick[n_cls : 2 * n_cls]
    noisy = pick[2 * n_cls : 2 * n_cls + int(n_rows * NOISE_SHARE)]
    keep = np.ones(n_rows, bool)
    keep[missing] = False

    td, tl, ts, tt = d.copy(), l_.copy(), s.copy(), t.copy()
    which = rng.integers(0, 4, n_cls)
    td[mismatch[which == 0]] += 0.5
    tl[mismatch[which == 1]] += 1
    ts[mismatch[which == 2]] = "changed"
    tt[mismatch[which == 3]] += 1_000_000
    td[noisy] += 1e-6

    ek = np.arange(n_rows, n_rows + n_cls, dtype=np.int64)
    target = pa.concat_tables(
        [
            _recon_table(k1[keep], k2[keep], td[keep], tl[keep], ts[keep], tt[keep]),
            _recon_table(
                ek // 8,
                (ek % 8).astype(np.int32),
                rng.integers(0, 10_000_000, n_cls) / 100.0,
                rng.integers(-(2**40), 2**40, n_cls),
                np.full(n_cls, "extra", object),
                _BASE_US + rng.integers(0, 365 * 86_400, n_cls) * 1_000_000,
            ),
        ]
    )
    target = target.take(rng.permutation(target.num_rows))
    source = _recon_table(k1, k2, d, l_, s, t)

    paths = {}
    for name, table in (("source", source), ("target", target)):
        path = os.path.join(out_dir, name)
        os.makedirs(path, exist_ok=True)
        step = -(-table.num_rows // n_files)
        for i in range(n_files):
            pq.write_table(
                table.slice(i * step, step),
                os.path.join(path, f"part-{i:05d}.parquet"),
            )
        paths[name] = path
    return ReconcileInput(
        source=paths["source"],
        target=paths["target"],
        rows_source=source.num_rows,
        rows_target=target.num_rows,
        expected={
            "missing": n_cls,
            "extra": n_cls,
            "mismatch": n_cls,
            "match": n_rows - 2 * n_cls,
        },
    )
