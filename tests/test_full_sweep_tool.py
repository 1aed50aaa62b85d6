"""``tools/full_sweep.py --only`` picks the artifact it merges into
(no Spark session needed)."""

import os

from tools.full_sweep import base_artifact


def _touch(d, name):
    (d / name).write_text("{}")


def test_only_merge_seeds_a_new_round_from_the_newest_artifact(tmp_path):
    for n in (9, 21, 22, 30):
        _touch(tmp_path, f"FULLSWEEP_r{n}.json")
    _touch(tmp_path, "FULLSWEEP_r22.json.bak")
    # no r23 artifact yet: merge into a copy of the newest earlier one,
    # never into an empty sweep (r9 < r21 < r22 numerically, r30 is later)
    assert base_artifact(str(tmp_path), 23) == os.path.join(
        str(tmp_path), "FULLSWEEP_r22.json"
    )
    # the round's own artifact wins once it exists
    _touch(tmp_path, "FULLSWEEP_r23.json")
    assert base_artifact(str(tmp_path), 23) == os.path.join(
        str(tmp_path), "FULLSWEEP_r23.json"
    )


def test_only_merge_without_any_artifact_starts_empty(tmp_path):
    _touch(tmp_path, "BENCH_r22.json")
    assert base_artifact(str(tmp_path), 23) is None
