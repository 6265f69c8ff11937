"""The seeded inputs: same seed, same bytes; another seed, another
re-send pattern."""

import hashlib
import os

import pyarrow.parquet as pq

import datagen


def _digest(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def _land(tmp, seed, n=12):
    land = tmp / f"land{seed}-{len(os.listdir(tmp))}"
    land.mkdir()
    events = pq.read_table(os.path.join(datagen.DATA_DIR, "events.parquet"))
    gen = datagen.EtlBatches(events, seed, fresh=200)
    paths = [gen.land(i, str(land))[0] for i in range(n)]
    return gen, paths


def test_landing_files_are_byte_identical_per_seed(tmp_path):
    _, first = _land(tmp_path, 11)
    _, second = _land(tmp_path, 11)
    assert [_digest(p) for p in first] == [_digest(p) for p in second]


def _resent(paths):
    """Per batch, the sorted keys that an earlier batch already held."""
    seen, out = set(), []
    for p in paths:
        keys = pq.read_table(p, columns=["event_id"]).column(0).to_pylist()
        out.append(sorted(set(keys) & seen))
        seen |= set(keys)
    return out


def test_other_seed_changes_resend_pattern(tmp_path):
    _, a = _land(tmp_path, 11)
    _, b = _land(tmp_path, 12)
    assert _resent(a) != _resent(b)


def test_batch_shape(tmp_path):
    gen, paths = _land(tmp_path, 11)
    resent = _resent(paths)
    assert resent[0] == []
    for i, p in enumerate(paths):
        keys = pq.read_table(p, columns=["event_id"]).column(0).to_pylist()
        if i == gen.replay_at:
            # A full replay: every key was landed before.
            assert len(resent[i]) == len(set(keys))
            assert keys == pq.read_table(
                paths[0], columns=["event_id"]).column(0).to_pylist()
        else:
            assert len(keys) > len(set(keys))  # in-batch duplicates
            if i > 0:
                assert resent[i]  # re-sent keys from earlier batches


def test_tables_match_checksums():
    """The fixed tables are the repository's sf0.01 test tables, byte
    for byte."""
    with open(os.path.join(datagen.DATA_DIR, "SHA256SUMS")) as fh:
        sums = dict(line.split()[::-1] for line in fh)
    assert len(sums) == 10
    for name, digest in sums.items():
        assert _digest(os.path.join(datagen.DATA_DIR, name)) == digest
