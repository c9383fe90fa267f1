"""The generators are pure functions of their seed."""

import filecmp
import random

from perfbench import gen


def test_hunt_inputs_repeat_for_a_seed(tmp_path):
    a, ra, na = gen.hunt_inputs(7, str(tmp_path / "a"), 200, 3)
    b, rb, nb = gen.hunt_inputs(7, str(tmp_path / "b"), 200, 3)
    assert ra == rb and na == nb
    assert all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))


def test_hunt_inputs_differ_across_seeds(tmp_path):
    _, ra, _ = gen.hunt_inputs(7, str(tmp_path / "a"), 200, 3)
    _, rb, _ = gen.hunt_inputs(8, str(tmp_path / "b"), 200, 3)
    assert ra != rb


def test_log_rows_repeat_for_a_seed():
    for make in (gen.zeek_rows, gen.sysmon_rows):
        assert make(random.Random("s"), 50, "w1") == make(random.Random("s"), 50, "w1")


def test_traffic_is_distinct_per_record():
    recs = gen.observation_records(random.Random(1), 500, "t")
    assert len({(r["src"], r["sport"], r["dst"], r["dport"]) for r in recs}) == 500
    assert all(r["dir"] == gen.directory_of(r["file"]) for r in recs)


def test_zipf_skews_toward_low_ranks():
    z, rng = gen.Zipf(100), random.Random(3)
    draws = [z.draw(rng) for _ in range(5000)]
    assert all(0 <= d < 100 for d in draws)
    assert draws.count(0) > 5 * draws.count(50)


def test_library_tables_repeat_for_a_seed(tmp_path):
    import pandas as pd

    gen.library_tables(3, str(tmp_path / "a"), 100, 30)
    gen.library_tables(3, str(tmp_path / "b"), 100, 30)
    for t in ("events", "documents"):
        pd.testing.assert_frame_equal(
            pd.read_parquet(tmp_path / "a" / f"{t}.parquet"),
            pd.read_parquet(tmp_path / "b" / f"{t}.parquet"),
        )
