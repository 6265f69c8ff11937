"""Seeded landing files for the etl_incremental workload.

The benchmark's tables are fixed: ``data/sf0.01`` holds the repository's
sf0.01 test tables unchanged (``data/sf0.01/SHA256SUMS``).  The seed
picks only the order of each query pass and, here, the re-send pattern
of the incremental-load batches derived from the ``events`` table.  The
same seed gives byte-identical landing files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "data", "sf0.01")


class EtlBatches:
    """Landing files for the incremental-load workload.

    Batch ``i`` holds ``fresh`` rows with never-seen keys (event ids
    ``i * fresh ..``; the other columns cycle through the base events
    table, so fresh keys never run out), 20% as many rows re-sent
    verbatim from earlier batches, and 5% of rows duplicated within the
    batch, in a seeded order.  The shares are fixed, so every seed lands
    the same number of rows; the seed picks which rows, and at which
    tick (7 to 10) batch 0 is re-landed unchanged: a full replay, which
    must append nothing.
    """

    def __init__(self, events: pa.Table, seed: int, fresh: int):
        self.base = events
        self.seed = seed
        self.fresh = fresh
        rng = np.random.default_rng([seed, 0])
        self.resend_share = 0.2
        self.dup_share = 0.05
        self.replay_at = int(rng.integers(7, 11))

    def _fresh_rows(self, ids: np.ndarray) -> pa.Table:
        rows = self.base.take(pa.array(ids % self.base.num_rows))
        return rows.set_column(0, "event_id", pa.array(ids, pa.int64()))

    def batch(self, i: int) -> pa.Table:
        if i == self.replay_at:
            return self.batch(0)
        # Batches at or after the replay index land fresh keys as if
        # the replay had not happened, so ``fresh_ids`` stays dense.
        k = i if i < self.replay_at else i - 1
        rng = np.random.default_rng([self.seed, 1, i])
        ids = np.arange(k * self.fresh, (k + 1) * self.fresh, dtype=np.int64)
        if k > 0:
            n_resend = int(self.fresh * self.resend_share)
            ids = np.concatenate(
                [ids, rng.integers(0, k * self.fresh, n_resend)])
        n_dup = int(len(ids) * self.dup_share)
        ids = np.concatenate([ids, rng.choice(ids, n_dup)])
        return self._fresh_rows(ids[rng.permutation(len(ids))])

    def land(self, i: int, land_dir: str) -> tuple[str, int]:
        """Write batch ``i`` into ``land_dir`` atomically; return the
        path and its row count."""
        table = self.batch(i)
        path = os.path.join(land_dir, f"batch-{i:05d}.parquet")
        tmp = os.path.join(os.path.dirname(land_dir.rstrip("/")),
                           f".landing-{i:05d}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, path)
        return path, table.num_rows
