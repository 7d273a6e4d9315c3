"""bench.py guard machinery: the cross-round drift baseline must be
BAND-based (best of the last three rounds), not all-time — r13 VERDICT
'What's wrong' #2: all-time bests kept ancient outliers alive
(minhash_lsh_fast r6 0.975, ann_recall r2 1.377) and re-flagged both
entries every round while they sat in their steady bands."""

import json
import sys

sys.path.insert(0, __file__.rsplit("/tests/", 1)[0])

import bench  # noqa: E402
from bench import _historical_best  # noqa: E402


def test_band_baseline_excludes_ancient_outliers(tmp_path, monkeypatch):
    """An ancient round's all-time bests (0.975 / 1.377) fall outside the
    last three artifacts and must be OUT of the sf0.1 baseline; the band
    reflects the recent rounds. Runs on fixture artifacts only, so the
    result does not depend on which BENCH_r*.json files a checkout holds."""
    def artifact(name, minhash, ann, wrap=True):
        line = {"metric": "bench_total", "sf": 0.1,
                "queries": {"minhash_lsh_fast": minhash, "ann_recall": ann}}
        doc = {"cpus": 32, "sf": 0.1, "parsed": line} if wrap else line
        (tmp_path / name).write_text(json.dumps(doc))

    artifact("BENCH_r02.json", 0.975, 1.377)  # the ancient outlier round
    artifact("BENCH_r03.json", 2.10, 2.05)
    artifact("BENCH_r04.json", 1.95, 2.20, wrap=False)
    artifact("BENCH_r05.json", 2.30, 1.98)
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))

    hb = _historical_best(0.1)
    assert hb["minhash_lsh_fast"] > 1.5, hb["minhash_lsh_fast"]
    assert hb["ann_recall"] > 1.9, hb["ann_recall"]
    # the band is the best of the recent rounds, not of all of them
    assert hb == {"minhash_lsh_fast": 1.95, "ann_recall": 1.98}


def test_band_baseline_trip_formula():
    """A fresh 1.6x regression over the band still trips the recheck
    trigger; a steady-band reading does not (same formula bench.py
    applies: median > 1.5x band AND absolute delta > 0.25s)."""
    def trips(median, band):
        return median > 1.5 * band and median - band > 0.25

    band = 2.0
    assert trips(band * 1.6, band)
    assert not trips(band * 1.4, band)
    # sub-0.25s absolute deltas never trip (tiny entries are noise)
    assert not trips(0.12, 0.05)
