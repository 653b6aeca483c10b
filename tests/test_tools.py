"""The benchmark and scale tools: the chunk cache, samples and summary of
``tools/scale_run.py`` and the run-accounting hook ``tools/runstats.py``."""

import pytest

from tools.runstats import current_round, stage_totals
from tools.scale_run import (
    CHUNK,
    chunk_cache,
    chunk_jobs,
    fresh_sample,
    summarize,
)


def test_chunk_cache_names_every_row_count_apart():
    """A chunk file holds one row count whatever the run size: a 20k run's
    partial first chunk must not be read back as a 150k run's full one."""
    rows_of: dict[str, set[int]] = {}
    for n_clips in (20_000, 150_000):
        jobs = chunk_jobs("cache", n_clips)
        assert sum(rows for _, rows, _, _ in jobs) == n_clips
        assert [off for *_, off in jobs] == [i * CHUNK for i in range(len(jobs))]
        for path, rows, _, _ in jobs:
            rows_of.setdefault(path, set()).add(rows)
    assert all(len(r) == 1 for r in rows_of.values()), rows_of


def test_stage_totals_grow_with_the_ui_off(spark):
    run0, cpu0 = stage_totals(spark)
    spark.range(0, 4_000_000, 1, 4).selectExpr("sum(hash(id))").collect()
    run1, cpu1 = stage_totals(spark)
    assert spark.sparkContext.uiWebUrl is None
    assert run1 - run0 > 0
    assert cpu1 - cpu0 > 0


def test_current_round_is_one_past_the_newest_bench_file(tmp_path, monkeypatch):
    for name in ("BENCH_r03.json", "BENCH_r10.json", "BENCH_rxx.json"):
        (tmp_path / name).write_text("{}")
    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    assert current_round(str(tmp_path)) == 11
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "7")
    assert current_round(str(tmp_path)) == 7


def _sample(cores, occupancy, delivery, work, n_clips=1000):
    """A sample whose wall is exactly work / (cores * occupancy * delivery)."""
    wall = work / (cores * occupancy * delivery)
    return {
        "n_clips": n_clips,
        "cores": cores,
        "wall_s": wall,
        "clips_per_sec": n_clips / wall,
        "occupancy": occupancy,
        "delivery": delivery,
        "tree_cpu_s": work,
    }


def test_summary_medians_and_efficiencies():
    # per level, one sample is the median of every field: the others only
    # scale the work up or down
    samples = [_sample(2, 0.9, 1.2, 100.0 * s) for s in (0.8, 1.0, 1.3)]
    samples += [_sample(8, 0.6, 0.9, 110.0 * s) for s in (1.4, 1.0, 0.9)]
    out = summarize(samples, [2, 8])
    n, kn = out["levels"]["2"], out["levels"]["8"]
    assert (n["samples"], kn["samples"]) == (3, 3)
    assert n["tree_cpu_s"] == 100.0 and kn["tree_cpu_s"] == 110.0
    assert n["wall_s"] == pytest.approx(100.0 / (2 * 0.9 * 1.2), abs=1e-3)
    assert kn["occupancy"] == 0.6 and kn["delivery"] == 0.9
    eff_engine = (0.6 / 0.9) / (110.0 / 100.0)
    assert out["eff_engine"] == pytest.approx(eff_engine, abs=1e-3)
    # wall = work / (cores * occ * del): the wall efficiency is the engine's
    # times the ratio of what the host delivered
    assert out["eff_wall"] == pytest.approx(eff_engine * (0.9 / 1.2), abs=1e-3)


def test_one_sample_per_level_in_fresh_processes():
    """run_sample at local[1] and local[2] on 400 clips of the shared chunk
    cache, each in its own interpreter and JVM; nothing is written."""
    paths = chunk_cache(400)
    samples = [fresh_sample(paths, 400, cores) for cores in (1, 2)]
    fields = {
        "n_clips", "cores", "wall_s", "clips_per_sec", "exec_run_s",
        "exec_cpu_s", "tree_cpu_s", "occupancy", "delivery", "host_busy_s",
        "host_steal_s", "n_clusters",
    }
    assert [set(s) for s in samples] == [fields, fields]
    assert [(s["n_clips"], s["cores"]) for s in samples] == [(400, 1), (400, 2)]
    assert samples[0]["n_clusters"] == samples[1]["n_clusters"] > 0
    assert all(s["exec_run_s"] > 0 and s["tree_cpu_s"] > 0 for s in samples)
