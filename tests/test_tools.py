"""The benchmark and scale tools' shared pieces: the chunk cache plan of
``tools/scale_run.py`` and the run-accounting hook ``tools/runstats.py``."""

from tools.runstats import current_round, stage_totals
from tools.scale_run import CHUNK, chunk_jobs


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
