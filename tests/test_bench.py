"""bench.py's round pick: the round it writes BENCH_LOCAL_r{N}.json
for is the one after the newest round record BENCH_r{N}.json."""

from bench import next_round


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
