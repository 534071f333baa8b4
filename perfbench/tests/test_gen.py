"""The generators are seeded: same seed, same bytes; other seed, other bytes."""

from __future__ import annotations

import datetime as dt
import filecmp
import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen  # noqa: E402

CURATION = ("documents", "embeddings", "events")


def _write_all(seed: int, root) -> list[str]:
    sf = os.path.join(root, "sf")
    gen.write_sf_dir(seed, sf, CURATION)
    gen.write_events_table(seed, os.path.join(root, "table"))
    batch, _ = gen.events_batch(seed, 0)
    pq.write_table(batch, os.path.join(root, "batch.parquet"))
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
    )


def test_same_seed_writes_identical_files(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    files = _write_all(7, a)
    assert files == _write_all(7, b)
    assert len(files) == len(CURATION) + gen.EVENTS_DAYS + 1
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert mismatch == [] and errors == []


def test_other_seed_writes_other_files(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    files = _write_all(7, a)
    _write_all(8, b)
    _, mismatch, _ = filecmp.cmpfiles(a, b, files, shallow=False)
    assert sorted(mismatch) == files


def test_tpch_tables_are_seeded_and_sized():
    a, b = gen.tpch_tables(1), gen.tpch_tables(2)
    for name, rows in gen.SIZES.items():
        assert a[name].num_rows == rows
    assert a["lineitem"].equals(gen.tpch_tables(1)["lineitem"])
    assert not a["lineitem"].equals(b["lineitem"])


def test_injected_near_duplicates():
    docs, pairs = gen.documents(3)
    assert docs.num_rows == gen.N_DOCS
    assert len(pairs) / docs.num_rows == pytest.approx(gen.NEAR_DUP_SHARE)
    text = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
    for a, b in pairs:
        ta, tb = text[a].split(), text[b].split()
        assert len(ta) == len(tb)
        assert sum(x != y for x, y in zip(ta, tb)) == 1  # near, never exact


def test_batch_late_rows_touch_three_days():
    batch, day = gen.events_batch(5, 2)
    days = pc.cast(batch["ts"], "date32").to_pylist()
    late = sum(d != day for d in days)
    assert late / gen.EVENTS_PER_DAY == pytest.approx(gen.LATE_SHARE)
    assert sorted(set(days)) == [day - dt.timedelta(2), day - dt.timedelta(1), day]
    # event ids never repeat across history and batches
    ids = batch["event_id"].to_pylist() + gen.events_batch(5, 3)[0]["event_id"].to_pylist()
    for t in gen.events_history(5):
        ids += t["event_id"].to_pylist()
    assert len(ids) == len(set(ids))
