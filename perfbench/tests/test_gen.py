"""Generator determinism: one seed, one byte stream."""

import json

from perfbench import gen


def _replicate(seed):
    return gen.ReplicateStream(seed, rate=50.0, seconds=4.0, warmup_s=1.0)


def _serve(seed):
    return gen.ServeStream(seed, rate=50.0, seconds=4.0, n_accounts=500, history_epochs=2, history_epoch_changes=50)


def _frames(stream):
    return b"".join(f for t in stream.txns for f in t.frames)


def _envelopes(stream):
    changes = [ch for epoch in stream.history for ch in epoch] + [ch for t in stream.txns for ch in t.changes]
    return json.dumps(gen.envelope_rows(changes)).encode()


def test_same_seed_gives_identical_frames_and_envelopes():
    assert _frames(_replicate(7)) == _frames(_replicate(7))
    assert _replicate(7).snapshot == _replicate(7).snapshot
    assert _envelopes(_serve(7)) == _envelopes(_serve(7))


def test_different_seed_gives_different_frames_and_envelopes():
    assert _frames(_replicate(7)) != _frames(_replicate(8))
    assert _envelopes(_serve(7)) != _envelopes(_serve(8))


def test_stream_has_one_alter_and_one_truncate_in_lsn_order():
    s = _replicate(3)
    relation_frames = [f for t in s.txns for f in t.frames if f[25:26] == b"R"]
    truncates = [ch for t in s.txns for ch in t.changes if ch.op == "truncate"]
    assert len(relation_frames) == 1 and len(truncates) == 1
    lsns = [ch.lsn for t in s.txns for ch in t.changes]
    assert lsns == sorted(lsns) and len(set(lsns)) == len(lsns)
    assert all(f[0:1] == b"w" for t in s.txns for f in t.frames)


def test_truth_applies_truncate_and_alter():
    s = _replicate(3)
    truth = s.truth()
    i = next(i for i, t in enumerate(s.txns) if t.changes[0].op == "truncate")
    assert not s.truth(upto=i + 1).tables["carts"]
    altered = [r for r in truth.tables["users"].values() if gen.ALTER_COLUMN in r]
    assert altered and len(altered) < len(truth.tables["users"])


def test_layout_is_seeded(tmp_path):
    import pyarrow.parquet as pq

    a, b = tmp_path / "a", tmp_path / "b"
    gen.write_layout(5, str(a), n_orders=300)
    gen.write_layout(5, str(b), n_orders=300)
    assert pq.read_table(a / "lineitem.parquet").equals(pq.read_table(b / "lineitem.parquet"))
