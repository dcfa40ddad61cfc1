"""bench.py's round pick: the round it writes BENCH_LOCAL_r{N}.json
for is the one after the newest round record BENCH_r{N}.json; and its
row pick: the rows named on its command line."""

import pytest

from bench import EXTENDED, HEADLINE, next_round, pick_rows


def test_next_round_skips_side_records():
    names = [
        "BENCH_r09.json",
        "BENCH_r11.json",
        "BENCH_r11_c8.json",
        "BENCH_r12_c8.json",
        "BENCH_LOCAL_r12.json",
        "BENCH_OPT_r12_final.json",
        "BENCH_r10.json",
        "BENCH_r13.json.tmp",
        "README.md",
    ]
    assert next_round(names) == 12


def test_next_round_without_records():
    assert next_round(["BENCH_r11_c8.json", "bench.py"]) == 1


def test_pick_rows_keeps_each_list_order():
    head, ext = pick_rows(["x_ivm_refresh", "s8_merge_upsert", "x_cdc_replicate"])
    assert head == ["s8_merge_upsert"]
    assert ext == ["x_ivm_refresh", "x_cdc_replicate"]


def test_pick_rows_all_when_none_named():
    assert pick_rows([]) == (HEADLINE, EXTENDED)


def test_pick_rows_rejects_unknown_names():
    with pytest.raises(SystemExit, match="nope"):
        pick_rows(["s8_merge_upsert", "nope"])
