"""bench.py's last stdout line is the record a reader of the run's
tail parses: it must stay valid JSON and short."""

from __future__ import annotations

import json

import bench


def test_headline_line_fits_a_2000_char_tail():
    names = ["flagship_spatial_tiling", *bench.HEADLINE]
    assert len(names) == 21
    # wide values: every timing and count at its longest plausible width
    timings = {n: 12345.678 for n in names}
    line = bench.headline_line(
        timings,
        n_pages=7_500_000_000,
        n_tiles=1_234_567,
        flagship_s=0.001,
        cpus=128,
        heap_mib=1_048_576,
        probes=[0.2161, 9.8765, 0.3333],
        identical=True,
    )
    assert "\n" not in line
    assert len(line) < 2000, len(line)
    rec = json.loads(line)
    assert set(rec["queries"]) == set(names)
    assert rec["cpus"] == 128 and rec["heap_mib"] == 1_048_576
    assert rec["noise_probe_s"] == {"median": 0.3333, "max": 9.8765}
    assert rec["invariance_identical"] is True
