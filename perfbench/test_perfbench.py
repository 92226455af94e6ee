"""Unit tests for the benchmark's own parts (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import eventlog  # noqa: E402
from checks import digest  # noqa: E402

CANNED = os.path.join(HERE, "testdata")


def test_event_log_files_cover_both_layouts():
    names = [os.path.relpath(p, CANNED) for p in eventlog.log_files(CANNED)]
    assert names == [
        "eventlog_v2_local-2000/events_1_local-2000",
        "eventlog_v2_local-2000/events_2_local-2000",
        "local-1000",
    ]


def test_event_log_sums_per_job_group():
    groups = eventlog.parse(CANNED)
    a = groups["t:a"]
    assert a["jobs"] == 1 and a["stages"] == 2
    assert a["tasks"] == 4 and a["failed_tasks"] == 1
    assert a["exec_s"] == pytest.approx(2.5)
    assert a["executor_run_s"] == pytest.approx(0.4)
    assert a["executor_cpu_s"] == pytest.approx(0.2)
    assert a["gc_s"] == pytest.approx(0.02)
    assert a["shuffle_write_bytes"] == 4000
    assert a["shuffle_read_bytes"] == 2000
    assert a["spill_bytes"] == 192
    assert a["input_bytes"] == 4 * 4096
    assert a["output_bytes"] == 512
    # only the run-time metric counts, not worker start-up
    assert a["python_eval_s"] == pytest.approx(1.5)
    # a job without a group, and ids that restart in the second application
    assert groups[""]["jobs"] == 1 and groups[""]["tasks"] == 1
    assert groups["t:b"]["tasks"] == 1 and groups["t:b"]["exec_s"] == pytest.approx(1.0)
    assert groups["c:check"]["tasks"] == 1


def test_sum_groups_by_prefix():
    timed = eventlog.sum_groups(eventlog.parse(CANNED), "t:")
    assert timed["jobs"] == 2 and timed["tasks"] == 5
    assert timed["exec_s"] == pytest.approx(3.5)


def test_digest_ignores_row_and_column_order():
    rows = [(1, "x", 0.5), (2, None, 1.25)]
    swapped = [(None, 1.25, 2), ("x", 0.5, 1)]
    assert digest(["a", "b", "c"], rows) == digest(["b", "c", "a"], swapped)
    assert digest(["a", "b", "c"], rows) != digest(["a", "b", "c"], rows[:1])


def test_oracle_error_fails_each_pass_without_aborting(tmp_path):
    from checks import OracleFailed, expected_digests
    from workloads import CorpusDedupAnn, Samples

    datagen.write_corpus_tables(str(tmp_path), 3, 20, 20, 20)
    want = expected_digests(str(tmp_path), {
        "ok": "SELECT count(*) AS n FROM customer",
        "bad": "SELECT no_such_column FROM customer",
        "rows_only": None,
    })
    assert want["ok"] == digest(["n"], [(20,)])
    assert want["rows_only"] is None
    assert isinstance(want["bad"], OracleFailed)

    wl = CorpusDedupAnn()
    wl.expected, wl.cold_rows = want, {}
    out = Samples()
    for p in range(2):
        wl._check("bad", [(1,)], ["no_such_column"], out, p)
        wl._check("ok", [(20,)], ["n"], out, p)
    assert out.failed == 2
    assert "oracle raised" in out.failures[0]


def test_etl_inputs_are_seeded():
    a = datagen.etl_days(5, 2, 300)
    b = datagen.etl_days(5, 2, 300)
    c = datagen.etl_days(6, 2, 300)
    assert [d.videos for d in a] == [d.videos for d in b]
    assert [d.videos for d in a] != [d.videos for d in c]


def test_etl_model_counts_distinct_ids_and_latest_dim():
    from youtube_etl_project_spark import config

    days = datagen.etl_days(1, 3, 400)
    model = datagen.expected_warehouse(days, config)
    ids, chans = set(), set()
    for d, m in zip(days, model):
        ids |= {v["video_id"] for v in d.videos if v["video_id"] is not None}
        chans |= {c["channel_id"] for c in d.channels if c["channel_id"] is not None}
        assert m.fact_rows == len(ids)
        assert m.dim_rows == len(chans)
    # the generator produced every awkward case the load must handle
    vids = [v["video_id"] for d in days for v in d.videos]
    assert None in vids and len(set(vids)) < len(vids)
    assert any(v["view_count"] == 0 for d in days for v in d.videos)
    assert any(k[0] == "UNKNOWN" for m in model for k in m.agg)
    sentiments = {k[1] for m in model for k in m.agg}
    assert sentiments == {"POSITIVE", "NEGATIVE", "NEUTRAL", "UNKNOWN"}


def test_tables_are_seeded(tmp_path):
    import pyarrow.parquet as pq

    sizes = {"customer": 50, "documents": 40, "embeddings": 30}
    datagen.write_corpus_tables(str(tmp_path / "a"), 3, *sizes.values())
    datagen.write_corpus_tables(str(tmp_path / "b"), 3, *sizes.values())
    for t, n in sizes.items():
        ta = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))
        assert ta.num_rows == n
