"""The replay generator is deterministic and produces its stated shares.

    python3 -m pytest perfbench/test_owid.py -q
"""

from __future__ import annotations

import dataclasses
import filecmp
import json

import pytest

from perfbench import owid, streams

#: Generated shares are random draws; at these row counts they land
#: within this much of the stated share.
ABS_TOL = 0.006

#: The reference producer's cadence (300-row epochs in CSV order), with
#: every share that is not about lateness set.
REFERENCE = owid.Traffic(
    rows_per_epoch=300,
    epochs=40,
    locations=100,
    dates_per_location=600,
    dup_share=0.02,
    malformed_share=0.01,
    sentinel_share=0.03,
    uncastable_share=0.01,
    hotspot_share=0.05,
)
BACKFILL = dataclasses.replace(streams.TRAFFIC, epochs=6)


@pytest.mark.parametrize("traffic", [REFERENCE, dataclasses.replace(BACKFILL, epochs=3)])
def test_same_seed_same_files(tmp_path, traffic):
    a = owid.write_epochs(owid.generate(traffic, 11), str(tmp_path / "a"))
    b = owid.write_epochs(owid.generate(traffic, 11), str(tmp_path / "b"))
    c = owid.write_epochs(owid.generate(traffic, 12), str(tmp_path / "c"))
    assert all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))
    assert not all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, c))


def test_csv_order_cadence_and_shares():
    replay = owid.generate(REFERENCE, 3)
    m = owid.manifest(replay)
    assert m["rows_per_epoch_actual"] == [300] * 40
    # CSV order: location-major, then date, stamped 0.1 s apart
    recs = [r for e in replay.records for r in e if r is not None]
    keys = [(r[owid.FIELD["location"]], r[owid.FIELD["date"]]) for r in recs]
    assert keys == sorted(keys)
    stamps = [s for e in replay.stamps for s in e]
    assert stamps == sorted(stamps)
    assert stamps[-1] == pytest.approx((len(stamps) - 1) / REFERENCE.rows_per_s, abs=1.0)
    shares = m["shares"]
    assert shares["dup"] == pytest.approx(REFERENCE.dup_share, abs=ABS_TOL)
    assert shares["malformed"] == pytest.approx(REFERENCE.malformed_share, abs=ABS_TOL)
    assert shares["sentinel"] == pytest.approx(REFERENCE.sentinel_share, abs=ABS_TOL)
    assert shares["uncastable"] == pytest.approx(REFERENCE.uncastable_share, abs=ABS_TOL)
    assert shares["hotspot"] == pytest.approx(REFERENCE.hotspot_share, abs=ABS_TOL)
    # each detector branch selects its third of the hotspot rows
    for branch in owid.HOTSPOT_BRANCHES:
        share = shares[f"hotspot.{branch}"]
        assert share == pytest.approx(REFERENCE.hotspot_share / 3, abs=ABS_TOL)
        assert share > 0
    assert shares["ooo"] == 0 and shares["late"] == 0
    json.dumps(m)


def test_late_and_out_of_order_shares():
    replay = owid.generate(BACKFILL, 5)
    shares = owid.measured_shares(replay)
    # the first epoch receives no late rows and the last sends none
    moved = (BACKFILL.epochs - 1) / BACKFILL.epochs
    assert shares["ooo"] == pytest.approx(BACKFILL.ooo_share * moved, abs=ABS_TOL)
    assert shares["late"] == pytest.approx(BACKFILL.late_share * moved, abs=ABS_TOL)
    # every late row is below its epoch's watermark by a wide margin, and
    # every out-of-order row above it by one
    for k in range(1, BACKFILL.epochs):
        wm = replay.watermarks[k]
        for r, s in zip(replay.records[k], replay.stamps[k]):
            if r is not None and s < wm + BACKFILL.watermark_s:
                assert s < wm - 250 or s > wm + 250



def test_late_rows_fall_in_closed_windows():
    """A late row's whole window has ended before its epoch's watermark,
    so whether an engine drops late rows by event time or by window end,
    the same rows leave the rollups."""
    replay = owid.generate(BACKFILL, 5)
    n_late = 0
    for k in range(BACKFILL.epochs):
        wm = replay.watermarks[k]
        for r, s in zip(replay.records[k], replay.stamps[k]):
            if r is not None and s < wm:
                n_late += 1
                assert (s // owid.WINDOW_S + 1) * owid.WINDOW_S <= wm
    assert n_late
    continents, locations = owid.rollup_keys(replay, BACKFILL.epochs)
    assert {w for w, _ in continents} == {w for w, _ in locations}
