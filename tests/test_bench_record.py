"""Guard the round-4 record-integrity fix: bench.py's final stdout line
must stay inside a bounded tail-capture window with all headline fields
present, no matter how many queries the table grows to."""

import json


def _fake_result(n_queries):
    return {
        "metric": "end-to-end extraction wall sec (full parallelism) on "
                  "interleaved-span corpus",
        "sf": 0.1,
        "value": 15.59,
        "value_certified": 15.63,
        "docs_per_sec_certified": 10236.72,
        "n_docs": 160000,
        "docs_per_sec": {"local4": 1545.0, "local16": 6187.2, "local32": 10236.7},
        "wall_sec": {"local4": 103.56, "local16": 25.86, "local32": 15.63},
        "scaling_pair": "local[4] -> local[16] (N -> 4N cores)",
        "scaling_efficiency": 0.883,
        "noise_tier": "all",
        "scaling_efficiency_full_machine": 0.789,
        "queries": {
            f"some_query_name_number_{i}": round(0.1 + i * 0.137, 3)
            for i in range(n_queries)
        },
        "query_noise": {
            f"some_query_name_number_{i}": ("noisy" if i % 3 == 0 else "steady")
            for i in range(n_queries)
        },
    }


def test_compact_line_fits_tail_window_at_any_query_count():
    from bench import compact_line

    for n in (5, 32, 60, 120, 400):
        line = compact_line(_fake_result(n), "/root/repo/artifacts_bench_full.json")
        assert len(line) <= 1900, (n, len(line))
        d = json.loads(line)
        for key in ("value", "value_certified", "docs_per_sec_certified",
                    "scaling_efficiency", "noise_tier",
                    "scaling_efficiency_full_machine", "queries",
                    "full_record"):
            assert key in d, key
        assert d["queries"]  # never empty


def test_compact_line_keeps_all_queries_when_they_fit():
    from bench import compact_line

    d = json.loads(
        compact_line(_fake_result(32), "/root/repo/artifacts_bench_full.json")
    )
    assert len(d["queries"]) == 32
    assert "queries_truncated_to_slowest" not in d


def test_compact_line_truncates_to_slowest():
    from bench import compact_line

    d = json.loads(
        compact_line(_fake_result(400), "/root/repo/artifacts_bench_full.json")
    )
    kept = d["queries"]
    assert len(kept) < 400
    # the kept entries are the slowest ones
    assert min(kept.values()) >= 0.1 + (400 - 2 * len(kept)) * 0.137 - 1e-9


def test_compact_line_keeps_every_registry_query():
    from __spark_entry__ import queries
    from bench import compact_line

    names = list(queries())
    assert len(names) == 80
    result = _fake_result(0)
    # three-decimal walls from 0.3 s to 15 s, every query noisy
    result["queries"] = {n: round(0.3 + (i * 1.937) % 15, 3) for i, n in enumerate(names)}
    result["query_noise"] = {n: "noisy" for n in names}
    line = compact_line(result, "/srv/checkout/learnhtml-spark/artifacts_bench_full.json")
    assert len(line) <= 1900
    d = json.loads(line)
    assert list(d["queries"]) == names
    assert "queries_truncated_to_slowest" not in d
    for n, wall in result["queries"].items():  # 3 significant figures
        assert abs(d["queries"][n] - wall) <= 0.005 * wall, n
    for key in ("value", "value_certified", "docs_per_sec_certified",
                "scaling_efficiency", "noise_tier",
                "scaling_efficiency_full_machine", "full_record"):
        assert d[key] == result.get(key, d["full_record"]), key
