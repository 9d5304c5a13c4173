"""Session knobs: environment values are validated before the session
is built."""

from __future__ import annotations

import pytest

from spotify_podcasts_airflow_batch_spark.session import prefer_sort_merge_join


@pytest.mark.parametrize(
    ("raw", "want"),
    [(None, "true"), ("true", "true"), ("FALSE", "false"), ("True", "true")],
)
def test_prefer_smj_accepts_booleans_in_any_case(monkeypatch, raw, want):
    if raw is None:
        monkeypatch.delenv("SPARK_GRAFT_PREFER_SMJ", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_PREFER_SMJ", raw)
    assert prefer_sort_merge_join() == want


@pytest.mark.parametrize("raw", ["1", "0", "yes", "", "ture"])
def test_prefer_smj_rejects_other_values(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_PREFER_SMJ", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_PREFER_SMJ"):
        prefer_sort_merge_join()
