"""The bench's stdout JSON line must fit the per-round recorder's
tail window.

The recorder keeps only the final ~2000 characters of bench output and
parses the last JSON line out of them. r04's full record outgrew that
window and was recorded truncated mid-line (`BENCH_r04.json` carries
`parsed: null` and a tail that starts inside the JSON). bench.py now
prints a SLIM line (raw per-rep arrays moved to a side file) — this
test pins the invariant against the heaviest real record we have, the
round-5 full validation run (two dense scaling pairs + a zipf pair +
3-rep headline legs), padded to the three zipf pairs that are the
default today and re-folded by today's ``summarize_pairs``.

The zipf scaling leg reports its MEDIAN pair with the min/max spread
beside it (a best-of-three biases the gate upward); the dense leg keeps
its best pair and also reports the spread.
"""

import copy
import json
import os

import bench

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RECORD = os.path.join(HERE, "BENCH", "r05_validation_run.json")


def _heaviest_record() -> dict:
    with open(RECORD) as f:
        full = json.load(f)
    # today's default is THREE zipf scaling pairs; the recorded run has
    # one — triple it and re-fold both legs with today's summary so the
    # pinned bound covers every field the bench now prints
    sc = full["scaling"]
    zipf = sc.pop("zipf")
    sc.update(bench.summarize_pairs(sc["pairs"], sc["n_docs"], sc["n_queries"],
                                    sc["cores"]["N"])[4])
    sc["zipf"] = bench.summarize_pairs(zipf["pairs"] * 3, zipf["n_docs"],
                                       zipf["n_queries"], zipf["cores"]["N"],
                                       pick="median")[4]
    return full


def test_slim_line_fits_recorder_tail_window():
    full = _heaviest_record()
    line = json.dumps(bench.slim_output(
        full, os.path.join(HERE, "BENCH", "last_run_full.json")))
    # 2000 is the observed window; require real headroom so a few new
    # stages or wider floats can't silently regress past it
    assert len(line) < 1900, len(line)
    slim = json.loads(line)
    # nothing a reader of the round record needs may be dropped:
    assert slim["metric"] == full["metric"]
    assert slim["value"] == full["value"]
    assert slim["queries"] == {k: round(v, 3) for k, v in full["queries"].items()} or \
        slim["queries"] == full["queries"]
    t = slim["throughput"]
    assert "headline_reps" not in t
    for key in ("build_rows_per_sec", "naive_qps", "wand_qps"):
        assert t[key] == full["throughput"][key]
    assert t["zipf"]["wand_counters"] == full["throughput"]["zipf"]["wand_counters"]
    sc = slim["scaling"]
    assert sc["build_efficiency"] == full["scaling"]["build_efficiency"]
    assert sc["query_efficiency"] == full["scaling"]["query_efficiency"]
    assert sc["n_pairs"] == len(full["scaling"]["pairs"]) and "pairs" not in sc
    assert sc["zipf"]["query_efficiency"] == full["scaling"]["zipf"]["query_efficiency"]
    assert sc["zipf"]["n_pairs"] == 3
    assert sc["zipf"]["pick"] == "median"
    for leg, want in ((sc, full["scaling"]), (sc["zipf"], full["scaling"]["zipf"])):
        for key in ("build_efficiency_spread", "query_efficiency_spread"):
            assert leg[key] == want[key]
    assert slim["full"].endswith("last_run_full.json")


def test_slim_output_does_not_mutate_input():
    full = _heaviest_record()
    snapshot = copy.deepcopy(full)
    bench.slim_output(full)
    assert full == snapshot


def _pair(build_eff, query_eff, small=100.0):
    return {"build_small": small, "query_small": small,
            "build_big_reps": [small / (4 * build_eff)] * 2,
            "query_big_reps": [small / (4 * query_eff)] * 2,
            "build_eff": build_eff, "query_eff": query_eff}


def test_zipf_scaling_gate_reads_median_pair():
    """Three pairs: the median pick reports the MIDDLE pair's
    efficiencies and timings — not the best — plus the spread."""
    pairs = [_pair(0.95, 0.95), _pair(0.80, 0.78), _pair(0.86, 0.84)]
    b_s, b_b, q_s, q_b, med = bench.summarize_pairs(pairs, 1000, 64, 2, pick="median")
    assert med["build_efficiency"] == 0.86 and med["query_efficiency"] == 0.84
    assert round(q_s / (4 * q_b), 3) == 0.84 and round(b_s / (4 * b_b), 3) == 0.86
    assert med["query_efficiency_spread"] == [0.78, 0.95]
    assert med["build_efficiency_spread"] == [0.80, 0.95]
    best = bench.summarize_pairs(pairs, 1000, 64, 2)[4]
    assert best["query_efficiency"] == 0.95 and best["pick"] == "best"
    # even count: the lower middle pair, never the better one
    two = bench.summarize_pairs(pairs[:2], 1000, 64, 2, pick="median")[4]
    assert two["query_efficiency"] == 0.78
